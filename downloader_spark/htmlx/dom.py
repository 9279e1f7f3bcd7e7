"""Minimal HTML DOM built on stdlib ``html.parser``.

Provides just enough of the BeautifulSoup surface for the engine's
content-conversion path (reference: content_converter.py:441-523,
transformers/plaintext.py, transformers/markdown.py):

- lenient parse of malformed HTML (implied end tags, unclosed tags)
- ``find`` / ``find_all`` by tag name or attribute presence
- ``select_one`` over the small selector subset the reference uses:
  ``tag``, ``.class``, ``#id``, ``[attr]``, ``[attr="value"]``,
  compound (``div.content``) and comma-separated groups
- ``decompose``-style subtree removal
- ``get_text(separator=, strip=)`` with BeautifulSoup semantics:
  strip=True strips each text node and drops empties before joining

No third-party dependency (bs4/lxml are not available in the target
runtime); this module is used both by the single-node oracle and inside
the vectorized Arrow UDFs, so Spark output is byte-identical to the
oracle by construction.
"""

from __future__ import annotations

from html.parser import HTMLParser

VOID_ELEMENTS = frozenset(
    {
        "area",
        "base",
        "br",
        "col",
        "embed",
        "hr",
        "img",
        "input",
        "link",
        "meta",
        "param",
        "source",
        "track",
        "wbr",
    }
)

# Tags that implicitly close an open <p> (HTML5 spec subset; mirrors how
# lenient parsers like lxml recover from unclosed paragraphs).
_P_CLOSERS = frozenset(
    {
        "address",
        "article",
        "aside",
        "blockquote",
        "details",
        "div",
        "dl",
        "fieldset",
        "figcaption",
        "figure",
        "footer",
        "form",
        "h1",
        "h2",
        "h3",
        "h4",
        "h5",
        "h6",
        "header",
        "hr",
        "main",
        "menu",
        "nav",
        "ol",
        "p",
        "pre",
        "section",
        "table",
        "ul",
    }
)

# tag -> set of start tags that implicitly close it
_IMPLIED_CLOSERS: dict[str, frozenset[str]] = {
    "p": _P_CLOSERS,
    "li": frozenset({"li"}),
    "dt": frozenset({"dt", "dd"}),
    "dd": frozenset({"dt", "dd"}),
    "tr": frozenset({"tr"}),
    "td": frozenset({"td", "th", "tr"}),
    "th": frozenset({"td", "th", "tr"}),
    "option": frozenset({"option", "optgroup"}),
    "thead": frozenset({"tbody", "tfoot"}),
    "tbody": frozenset({"tbody", "tfoot"}),
}


class Node:
    """Base node; ``parent`` is set when attached to an Element."""

    __slots__ = ("parent",)

    def __init__(self) -> None:
        self.parent: Element | None = None


class TextNode(Node):
    __slots__ = ("text",)

    def __init__(self, text: str) -> None:
        super().__init__()
        self.text = text

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"TextNode({self.text!r})"


class Element(Node):
    __slots__ = ("tag", "attrs", "children")

    def __init__(self, tag: str, attrs: dict[str, str] | None = None) -> None:
        super().__init__()
        self.tag = tag
        self.attrs: dict[str, str] = attrs or {}
        self.children: list[Node] = []

    # -- tree construction -------------------------------------------------
    def append(self, node: Node) -> None:
        node.parent = self
        self.children.append(node)

    def insert_after(self, node: Node, ref: Node) -> None:
        node.parent = self
        idx = self.children.index(ref)
        self.children.insert(idx + 1, node)

    def replace_child(self, old: Node, new: Node) -> None:
        idx = self.children.index(old)
        new.parent = self
        self.children[idx] = new
        old.parent = None

    # -- attributes --------------------------------------------------------
    @property
    def classes(self) -> list[str]:
        return self.attrs.get("class", "").split()

    def get(self, name: str, default: str | None = None) -> str | None:
        return self.attrs.get(name, default)

    @property
    def id(self) -> str | None:
        return self.attrs.get("id")

    # -- traversal ---------------------------------------------------------
    def iter(self):
        """Pre-order traversal over descendant nodes (self excluded)."""
        stack = list(reversed(self.children))
        while stack:
            node = stack.pop()
            yield node
            if isinstance(node, Element):
                stack.extend(reversed(node.children))

    def iter_elements(self):
        for node in self.iter():
            if isinstance(node, Element):
                yield node

    def find_all(self, names) -> list["Element"]:
        if isinstance(names, str):
            names = {names}
        else:
            names = set(names)
        return [el for el in self.iter_elements() if el.tag in names]

    def find(self, name: str) -> "Element | None":
        for el in self.iter_elements():
            if el.tag == name:
                return el
        return None

    def find_by_attr(self, name: str, value: str | None = None) -> "Element | None":
        """First element (pre-order) carrying attribute ``name``.

        ``value=None`` matches attribute presence (BS4 ``attrs={n: True}``).
        """
        for el in self.iter_elements():
            if name in el.attrs and (value is None or el.attrs[name] == value):
                return el
        return None

    # -- removal -----------------------------------------------------------
    def decompose_all(self, names) -> None:
        """Remove every descendant element whose tag is in ``names``."""
        if isinstance(names, str):
            names = {names}
        else:
            names = set(names)
        self._decompose_in(self, names)

    @staticmethod
    def _decompose_in(root: "Element", names: set[str]) -> None:
        root.children = [
            c for c in root.children if not (isinstance(c, Element) and c.tag in names)
        ]
        for c in root.children:
            if isinstance(c, Element):
                Element._decompose_in(c, names)

    # -- selectors ----------------------------------------------------------
    def select_one(self, selector: str) -> "Element | None":
        """First descendant (pre-order) matching a simple CSS selector.

        Supports comma-groups of compound simple selectors; combinators are
        not needed by the reference's cascade (content_converter.py:472-484).
        Comma groups follow CSS ``select_one`` semantics: the first element
        in document order matching ANY group.
        """
        parts = _parse_selector(selector)
        for el in self.iter_elements():
            for part in parts:
                if _matches(el, part):
                    return el
        return None

    def select(self, selector: str) -> list["Element"]:
        parts = _parse_selector(selector)
        return [el for el in self.iter_elements() if any(_matches(el, p) for p in parts)]

    def select_first_of(self, selectors: tuple[str, ...]) -> "Element | None":
        """Cascade: the first selector (by list order) with any match;
        returns that selector's document-order first match. ONE traversal
        instead of len(selectors) — semantically identical to calling
        select_one per selector in order (perf: the extract hot path)."""
        parts_per_sel = [_parse_selector(s) for s in selectors]
        best_idx: int | None = None
        best_el: Element | None = None
        for el in self.iter_elements():
            limit = best_idx if best_idx is not None else len(parts_per_sel)
            for i in range(limit):
                if any(_matches(el, p) for p in parts_per_sel[i]):
                    best_idx, best_el = i, el
                    if i == 0:
                        return el
                    break
        return best_el

    # -- text extraction -----------------------------------------------------
    def strings(self):
        for node in self.iter():
            if isinstance(node, TextNode):
                yield node.text

    def get_text(self, separator: str = "", strip: bool = False) -> str:
        """BeautifulSoup-compatible text join (plaintext.py:79-86 contract)."""
        if strip:
            parts = [s.strip() for s in self.strings()]
            parts = [s for s in parts if s]
        else:
            parts = list(self.strings())
        return separator.join(parts)

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"Element({self.tag!r}, attrs={self.attrs!r}, n={len(self.children)})"


from functools import lru_cache


@lru_cache(maxsize=256)
def _parse_selector(selector: str) -> tuple:
    return tuple(
        _parse_compound(s.strip()) for s in selector.split(",") if s.strip()
    )


def _parse_compound(sel: str) -> tuple[str | None, tuple[str, ...], str | None, tuple[tuple[str, str | None], ...]]:
    """Parse ``tag.class#id[attr="v"]`` → (tag, classes, id, attr-tests)."""
    tag: str | None = None
    classes: list[str] = []
    elem_id: str | None = None
    attr_tests: list[tuple[str, str | None]] = []
    i, n = 0, len(sel)
    while i < n:
        ch = sel[i]
        if ch == ".":
            j = i + 1
            while j < n and sel[j] not in ".#[":
                j += 1
            classes.append(sel[i + 1 : j])
            i = j
        elif ch == "#":
            j = i + 1
            while j < n and sel[j] not in ".#[":
                j += 1
            elem_id = sel[i + 1 : j]
            i = j
        elif ch == "[":
            j = sel.index("]", i)
            body = sel[i + 1 : j]
            if "=" in body:
                k, v = body.split("=", 1)
                attr_tests.append((k.strip(), v.strip().strip("\"'")))
            else:
                attr_tests.append((body.strip(), None))
            i = j + 1
        else:
            j = i
            while j < n and sel[j] not in ".#[":
                j += 1
            tag = sel[i:j].lower()
            i = j
    return tag, classes, elem_id, attr_tests


def _matches(el: Element, part) -> bool:
    tag, classes, elem_id, attr_tests = part
    if tag is not None and tag != "*" and el.tag != tag:
        return False
    if elem_id is not None and el.attrs.get("id") != elem_id:
        return False
    if classes:
        el_classes = el.classes
        if any(c not in el_classes for c in classes):
            return False
    for name, value in attr_tests:
        if name not in el.attrs:
            return False
        if value is not None and el.attrs[name] != value:
            return False
    return True


class _TreeBuilder(HTMLParser):
    """Lenient tree builder: implied end tags + ignore stray closers."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Element("[document]")
        self.stack: list[Element] = [self.root]

    # stack helpers
    def _top(self) -> Element:
        return self.stack[-1]

    def handle_starttag(self, tag: str, attrs) -> None:
        tag = tag.lower()
        # implied end tags (e.g. <p> closed by <div>, <li> by <li>)
        while len(self.stack) > 1:
            open_tag = self._top().tag
            closers = _IMPLIED_CLOSERS.get(open_tag)
            if closers and tag in closers:
                self.stack.pop()
            else:
                break
        attr_dict: dict[str, str] = {}
        for k, v in attrs:
            if k not in attr_dict:  # first occurrence wins (browser behavior)
                attr_dict[k.lower()] = v if v is not None else ""
        el = Element(tag, attr_dict)
        self._top().append(el)
        if tag not in VOID_ELEMENTS:
            self.stack.append(el)

    def handle_startendtag(self, tag: str, attrs) -> None:
        tag = tag.lower()
        attr_dict = {k.lower(): (v if v is not None else "") for k, v in attrs}
        self._top().append(Element(tag, attr_dict))

    def handle_endtag(self, tag: str) -> None:
        tag = tag.lower()
        if tag in VOID_ELEMENTS:
            return
        # find matching open tag; if none, ignore the stray end tag
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return

    def handle_data(self, data: str) -> None:
        if data:
            self._top().append(TextNode(data))


def parse_html(html: str | bytes) -> Element:
    """Parse HTML into a DOM tree; root is a ``[document]`` element.

    Bytes are decoded UTF-8 with ``errors="ignore"`` — the exact decode
    the reference applies (transformers/plaintext.py:33-34,
    content_converter.py:544).
    """
    if isinstance(html, (bytes, bytearray)):
        html = bytes(html).decode("utf-8", errors="ignore")
    builder = _TreeBuilder()
    builder.feed(html)
    builder.close()
    return builder.root


def serialize(node: Node) -> str:
    """Serialize a subtree back to HTML (used only for debugging/tests)."""
    out: list[str] = []
    _serialize_into(node, out)
    return "".join(out)


def _serialize_into(node: Node, out: list[str]) -> None:
    if isinstance(node, TextNode):
        out.append(
            node.text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        )
        return
    el = node
    assert isinstance(el, Element)
    if el.tag != "[document]":
        attrs = "".join(f' {k}="{v}"' for k, v in el.attrs.items())
        out.append(f"<{el.tag}{attrs}>")
    for child in el.children:
        _serialize_into(child, out)
    if el.tag != "[document]" and el.tag not in VOID_ELEMENTS:
        out.append(f"</{el.tag}>")
