"""Minimal tolerant HTML DOM + serializer (P13).

A from-scratch Python analogue of the reference's parse5-backed DOM
(/root/reference/lib/dom-parser-node.js), built on html.parser. The
serializer replicates the reference's pinned quirks:

- entity escaping: ``& \\u00a0 < >`` in text, ``& \\u00a0 "`` in
  attribute values (dom-parser-node.js:55-66);
- raw-text elements (style/script/xmp/iframe/noembed/noframes/
  plaintext/noscript) are not entity-escaped; style and
  javascript-script text instead get their closing markers escaped
  (``</`` → ``<\\/``), idempotently — a marker already carrying its
  backslash is left alone (dom-parser-node.js:70-75);
- attributes with unwritable names are dropped without leaving a gap
  (dom-parser-node.js:339-341);
- void tags have no closing tag; template serializes its content;
- document serialization = doctype line + documentElement.outerHTML
  (util.js:315-334) — whatever sat outside <html> is gone.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

VOID_TAGS = frozenset(
    "area base basefont bgsound br col command embed frame hr img input "
    "keygen link meta param source track wbr".split()
)
RAW_TEXT_TAGS = frozenset(
    "style script xmp iframe noembed noframes plaintext noscript".split()
)
HEAD_ONLY_TAGS = frozenset("title meta link base style script noscript template".split())

_TEXT_ESCAPE = {"&": "&amp;", " ": "&nbsp;", "<": "&lt;", ">": "&gt;"}
_ATTR_ESCAPE = {"&": "&amp;", " ": "&nbsp;", '"': "&quot;"}
_TEXT_ESCAPE_RE = re.compile(r"[& <>]")
_ATTR_ESCAPE_RE = re.compile(r'[& "]')
_INVALID_ATTR_NAME_RE = re.compile(r"[\"'>/=]")
_CLOSING_MARKER_RE = re.compile(r"</", re.IGNORECASE)
# a marker already carrying its backslash is left alone (idempotent)
_SELF_CLOSING_MARKER_RE = re.compile(r"(?<!\\)/>")


class Node:
    node_type = "node"

    def __init__(self):
        self.parent = None
        self.children: list[Node] = []

    # -- tree surgery (reference elementPrototype) -----------------------

    def remove(self):
        if self.parent is not None and self in self.parent.children:
            self.parent.children.remove(self)
            self.parent = None

    def replace_with(self, *nodes: "Node"):
        if self.parent is None:
            return
        idx = self.parent.children.index(self)
        self.parent.children[idx : idx + 1] = list(nodes)
        for node in nodes:
            node.parent = self.parent
        self.parent = None

    def append_child(self, node: "Node"):
        node.parent = self
        self.children.append(node)
        return node

    def prepend(self, *nodes: "Node"):
        for node in reversed(nodes):
            node.parent = self
            self.children.insert(0, node)

    def after(self, *nodes: "Node"):
        if self.parent is None:
            return
        idx = self.parent.children.index(self)
        self.parent.children[idx + 1 : idx + 1] = list(nodes)
        for node in nodes:
            node.parent = self.parent

    @property
    def first_child(self):
        return self.children[0] if self.children else None

    @property
    def text_content(self) -> str:
        out = []
        for child in self.children:
            if isinstance(child, Text):
                out.append(child.value)
            else:
                out.append(child.text_content)
        return "".join(out)


class Text(Node):
    node_type = "text"

    def __init__(self, value: str):
        super().__init__()
        self.value = value


class Comment(Node):
    node_type = "comment"

    def __init__(self, data: str):
        super().__init__()
        self.data = data


class Doctype(Node):
    node_type = "doctype"

    def __init__(self, name: str, public_id: str = "", system_id: str = ""):
        super().__init__()
        self.name = name
        self.public_id = public_id
        self.system_id = system_id


class Element(Node):
    node_type = "element"

    def __init__(self, tag: str, attrs: list[tuple[str, str]] | None = None):
        super().__init__()
        self.tag = tag.lower()
        # order-preserving list of [name, value]; set updates in place
        self.attrs: list[list[str]] = [[n, v if v is not None else ""] for n, v in (attrs or [])]

    def get_attribute(self, name: str) -> str | None:
        low = name.lower()
        for n, v in self.attrs:
            if n == name or n.lower() == low:
                return v
        return None

    def get_attribute_names(self) -> list[str]:
        return [n for n, _ in self.attrs]

    def set_attribute(self, name: str, value: str):
        low = name.lower()
        for pair in self.attrs:
            if pair[0] == name or pair[0].lower() == low:
                pair[1] = value
                return
        self.attrs.append([name, value])

    def remove_attribute(self, name: str):
        low = name.lower()
        for i, (n, _) in enumerate(self.attrs):
            if n == name or n.lower() == low:
                del self.attrs[i]
                return

    def get_elements_by_tag_name(self, tag: str) -> list["Element"]:
        tag = tag.lower()
        out = []
        for child in self.children:
            if isinstance(child, Element):
                if child.tag == tag:
                    out.append(child)
                out.extend(child.get_elements_by_tag_name(tag))
        return out


class Document(Node):
    node_type = "document"

    def create_element(self, tag: str) -> Element:
        return Element(tag)

    def create_text_node(self, value: str) -> Text:
        return Text(value)

    def get_elements_by_tag_name(self, tag: str) -> list[Element]:
        tag = tag.lower()
        out = []
        for child in self.children:
            if isinstance(child, Element):
                if child.tag == tag:
                    out.append(child)
                out.extend(child.get_elements_by_tag_name(tag))
        return out

    @property
    def doctype(self) -> Doctype | None:
        first = self.first_child
        return first if isinstance(first, Doctype) else None

    @property
    def document_element(self) -> Element | None:
        for child in self.children:
            if isinstance(child, Element) and child.tag == "html":
                return child
        return None

    @property
    def head(self) -> Element | None:
        root = self.document_element
        if root is None:
            return None
        for child in root.children:
            if isinstance(child, Element) and child.tag == "head":
                return child
        return None

    @property
    def body(self) -> Element | None:
        root = self.document_element
        if root is None:
            return None
        for child in root.children:
            if isinstance(child, Element) and child.tag == "body":
                return child
        return None

    def serialize(self) -> str:
        result = ""
        doctype = self.doctype
        if doctype is not None:
            result += _serialize_doctype(doctype) + "\n"
        root = self.document_element
        return result + (_serialize(root) if root is not None else "")


# --------------------------------------------------------------------------
# parsing
# --------------------------------------------------------------------------


class _TreeBuilder(HTMLParser):
    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.document = Document()
        self.stack: list[Node] = [self.document]

    @property
    def top(self) -> Node:
        return self.stack[-1]

    def handle_decl(self, decl: str):
        m = re.match(
            r'(?i)doctype\s+(\S+)'
            r'(?:\s+PUBLIC\s+"([^"]*)"(?:\s+"([^"]*)")?|\s+SYSTEM\s+"([^"]*)")?',
            decl,
        )
        if m:
            self.document.append_child(
                Doctype(m.group(1), m.group(2) or "", m.group(3) or m.group(4) or "")
            )

    def handle_starttag(self, tag, attrs):
        element = Element(tag, attrs)
        self.top.append_child(element)
        if tag.lower() not in VOID_TAGS:
            self.stack.append(element)

    def handle_startendtag(self, tag, attrs):
        self.top.append_child(Element(tag, attrs))

    def handle_endtag(self, tag):
        tag = tag.lower()
        for i in range(len(self.stack) - 1, 0, -1):
            node = self.stack[i]
            if isinstance(node, Element) and node.tag == tag:
                del self.stack[i:]
                return
        # stray end tag: ignored (tolerant)

    def handle_data(self, data):
        if data:
            self.top.append_child(Text(data))

    def handle_comment(self, data):
        self.top.append_child(Comment(data))


def parse_html(markup: str) -> Document:
    """Tolerant parse; guarantees html/head structure like the
    reference's DOMParser wrapper (dom-parser-node.js:147-156)."""
    builder = _TreeBuilder()
    try:
        builder.feed(markup)
        builder.close()
    except Exception:
        pass  # keep whatever tree was built; never abort a conversion
    document = builder.document
    root = document.document_element
    if root is None:
        # wrap stray content: head-only elements up front go to head,
        # everything else to body (parse5's implied-tree behavior,
        # simplified)
        root = Element("html")
        head = Element("head")
        body = Element("body")
        strays = [c for c in document.children if not isinstance(c, Doctype)]
        in_head = True
        for child in strays:
            child.remove() if child.parent else None
            child.parent = None
            if (
                in_head
                and (
                    isinstance(child, (Comment,))
                    or (isinstance(child, Text) and not child.value.strip())
                    or (isinstance(child, Element) and child.tag in HEAD_ONLY_TAGS)
                )
            ):
                head.append_child(child)
            else:
                in_head = False
                body.append_child(child)
        document.children = [c for c in document.children if isinstance(c, Doctype)]
        root.append_child(head)
        root.append_child(body)
        document.append_child(root)
    elif document.head is None:
        root.prepend(Element("head"))
    return document


# --------------------------------------------------------------------------
# serialization
# --------------------------------------------------------------------------


def _escape_text(value: str) -> str:
    return _TEXT_ESCAPE_RE.sub(lambda m: _TEXT_ESCAPE[m.group(0)], value)


def _escape_attr(value: str) -> str:
    return _ATTR_ESCAPE_RE.sub(lambda m: _ATTR_ESCAPE[m.group(0)], value)


def _escape_markers(value: str) -> str:
    value = _CLOSING_MARKER_RE.sub("<\\\\/", value)
    return _SELF_CLOSING_MARKER_RE.sub("\\\\/>", value)


def _serialize_text(node: Text) -> str:
    parent = node.parent
    tag = parent.tag if isinstance(parent, Element) else None
    if tag and tag in RAW_TEXT_TAGS:
        if tag == "style":
            return _escape_markers(node.value)
        if tag == "script":
            script_type = parent.get_attribute("type")
            if not script_type or script_type == "text/javascript":
                return _escape_markers(node.value)
        return node.value
    return _escape_text(node.value)


def _serialize_doctype(doctype: Doctype) -> str:
    out = f"<!DOCTYPE {doctype.name}"
    if doctype.public_id:
        out += f' PUBLIC "{doctype.public_id}"'
    if doctype.system_id:
        out += f' "{doctype.system_id}"'
    return out + ">"


def _serialize(node: Node) -> str:
    if isinstance(node, Text):
        return _serialize_text(node)
    if isinstance(node, Comment):
        return f"<!--{node.data}-->"
    if isinstance(node, Doctype):
        return _serialize_doctype(node)
    if isinstance(node, Element):
        tag = node.tag
        parts = [f"<{tag}"]
        attrs = " ".join(
            f'{name}="{_escape_attr(value)}"'
            for name, value in node.attrs
            if not _INVALID_ATTR_NAME_RE.search(name)
        )
        if attrs:
            parts.append(" " + attrs)
        parts.append(">")
        for child in node.children:
            parts.append(_serialize(child))
        if tag not in VOID_TAGS:
            parts.append(f"</{tag}>")
        return "".join(parts)
    return "".join(_serialize(c) for c in node.children)
