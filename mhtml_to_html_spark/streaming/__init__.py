from .frontier import stream_frontier_fetch  # noqa: F401
from .ingest import stream_events_windowed  # noqa: F401
