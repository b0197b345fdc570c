from .columns import (  # noqa: F401
    ct_is_document,
    ct_is_media,
    charset_of,
    media_type_of,
    data_uri,
    url_scheme,
    is_fetchable_col,
)
