"""Canonical serializer for extracted content.

The reference returns ``DOMDocument::C14N()`` for ``getContent()``
(``src/Readability.php:1704-1707``); the golden ``expected.html`` fixtures are
canonical-XML bytes.  This serializer follows the same C14N conventions so
output is stable and diffable against the reference:

- every element gets an explicit end tag (``<br></br>``, like C14N);
- attributes sorted lexicographically by name;
- text escaping: ``& < > \r`` → ``&amp; &lt; &gt; &#xD;``;
- attribute escaping: ``& < " \t \n \r`` → entities;
- comments omitted (C14N without-comments mode, libxml default).

Byte-identity with libxml's serialization of *parsed real-world pages* is not
guaranteed (the parse trees differ where error recovery differs), but for
well-formed content the output matches C14N byte-for-byte.
"""

from __future__ import annotations

from .node import COMMENT_NODE, ELEMENT_NODE, TEXT_NODE, Element, Node

_TEXT_ESC = {"&": "&amp;", "<": "&lt;", ">": "&gt;", "\r": "&#xD;"}
_ATTR_ESC = {
    "&": "&amp;",
    "<": "&lt;",
    '"': "&quot;",
    "\t": "&#x9;",
    "\n": "&#xA;",
    "\r": "&#xD;",
}


def _esc_text(s: str) -> str:
    if "&" in s or "<" in s or ">" in s or "\r" in s:
        for ch, rep in _TEXT_ESC.items():
            s = s.replace(ch, rep)
    return s


def _esc_attr(s: str) -> str:
    for ch in "&<\"\t\n\r":
        if ch in s:
            for c, rep in _ATTR_ESC.items():
                s = s.replace(c, rep)
            break
    return s


def serialize(node: Node, *, include_self: bool = True) -> str:
    """C14N-style serialization of a node (or its children when
    ``include_self=False`` or the node is a Document)."""
    out: list[str] = []
    if node.node_type == ELEMENT_NODE and include_self:
        _ser_element(node, out)  # type: ignore[arg-type]
    else:
        if node.node_type == TEXT_NODE:
            return _esc_text(node.data)  # type: ignore[union-attr]
        child = getattr(node, "first_child", None)
        while child is not None:
            _ser_node(child, out)
            child = child.next
    return "".join(out)


def _ser_node(n: Node, out: list[str]) -> None:
    t = n.node_type
    if t == TEXT_NODE:
        out.append(_esc_text(n.data))  # type: ignore[union-attr]
    elif t == ELEMENT_NODE:
        _ser_element(n, out)  # type: ignore[arg-type]
    elif t == COMMENT_NODE:
        pass  # C14N without comments


def _ser_element(el: Element, out: list[str]) -> None:
    # Iterative serialization: no recursion limit on pathological depth.
    stack: list = [("open", el)]
    while stack:
        op, n = stack.pop()
        if op == "close":
            out.append(f"</{n}>")
            continue
        t = n.node_type
        if t == TEXT_NODE:
            out.append(_esc_text(n.data))
            continue
        if t != ELEMENT_NODE:
            continue
        out.append("<")
        out.append(n.tag)
        if n.attrs:
            for name in sorted(n.attrs):
                v = n.attrs[name]
                out.append(f' {name}="{_esc_attr(v if v is not None else "")}"')
        out.append(">")
        stack.append(("close", n.tag))
        # push children in reverse so they pop in document order
        children = []
        c = n.first_child
        while c is not None:
            children.append(c)
            c = c.next
        for c in reversed(children):
            stack.append(("open", c))
