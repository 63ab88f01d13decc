"""Node-level micro-operators (SURVEY.md §2.8, X1-X10 + NodeTrait helpers).

Function-style equivalents of the reference's ``NodeTrait`` /``NodeUtility``
(``src/Nodes/NodeTrait.php``, ``src/Nodes/NodeUtility.php``) over our DOM.
Parity-critical quirks replicated on purpose:

- ``get_row_and_column_count`` ignores rowspan/colspan values — the PHP
  ``$rows += ($rowspan || 1)`` always adds 1 (``NodeTrait.php:351-359``);
  and only ``<td>`` (not ``<th>``) cells are counted per row.
- ``get_text_content(normalize=True)`` collapses only runs of ≥2 whitespace
  (``NodeTrait.php:305-313``), while the retry-loop length metric strips all
  whitespace+nbsp (``Readability.php:172``).
- ``has_single_tag_inside_element`` reduces over the *filtered* child list,
  so the "no text with real content" leg is vacuous (``NodeTrait.php:422-438``).
"""

from __future__ import annotations

from typing import Callable, Iterator, Optional, Union

from ..dom import node as _node_mod
from ..dom.node import ELEMENT_NODE, TEXT_NODE, Element, Node
from ..memo import BoundedMemo
from .regexes import REGEXPS

#: PHP trim() default character list (" \t\n\r\0\x0B") — NOT Unicode-aware;
#: Python's str.strip() would also eat NBSP etc. and shift every length
#: threshold in the kernel.
PHP_TRIM_CHARS = " \t\n\r\0\x0b"


def php_trim(s: str) -> str:
    return s.strip(PHP_TRIM_CHARS)

# NodeTrait.php:40-51
DIV_TO_P_ELEMS = frozenset(
    ["a", "blockquote", "dl", "div", "img", "ol", "p", "pre", "table", "ul", "select"]
)

# NodeTrait.php:58-66
PHRASING_ELEMS = frozenset([
    "abbr", "audio", "b", "bdo", "br", "button", "cite", "code", "data",
    "datalist", "dfn", "em", "embed", "i", "img", "input", "kbd", "label",
    "mark", "math", "meter", "noscript", "object", "output", "progress", "q",
    "ruby", "samp", "script", "select", "small", "span", "strong", "sub",
    "sup", "textarea", "time", "var", "wbr",
])

_DISPLAY_NONE = __import__("re").compile(r"display:( )?none")


# --- scoring state (NodeTrait.php:118-162) --------------------------------

def initialize_node(node: Element, weight_classes: bool) -> Element:
    if not node.initialized:
        score = 0
        tag = node.tag
        if tag == "div":
            score += 5
        elif tag in ("pre", "td", "blockquote"):
            score += 3
        elif tag in ("address", "ol", "ul", "dl", "dd", "dt", "li", "form"):
            score -= 3
        elif tag in ("h1", "h2", "h3", "h4", "h5", "h6", "th"):
            score -= 5
        node.content_score = score + (get_class_weight(node) if weight_classes else 0)
        node.initialized = True
    return node


#: class/id attribute values repeat heavily (template markup, and the bench
#: corpus replicates fixture pages), so the ±25 classification of a string
#: is memoized — a pure function of the string, identical output to the
#: regex pair (policy: readability_php_spark/memo.py)
_WEIGHT_CACHE = BoundedMemo(100_000, max_key=4096)


def _string_weight(s: str) -> int:
    w = _WEIGHT_CACHE.get(s)
    if w is None:
        w = 0
        if php_trim(s):
            if REGEXPS["negative"].search(s):
                w -= 25
            if REGEXPS["positive"].search(s):
                w += 25
        _WEIGHT_CACHE.put(s, w)
    return w


def get_class_weight(node: Element) -> int:
    # NodeTrait.php:267-296 — ±25 for negative/positive on class, again on id
    weight = _string_weight(node.get_attribute("class"))
    weight += _string_weight(node.get_attribute("id"))
    return weight


# --- text ------------------------------------------------------------------

def get_text_content(node: Node, normalize: bool = False) -> str:
    # NodeTrait.php:305-313
    if not normalize:
        return node.text_content
    # normalized+trimmed result is a pure function of the subtree; cache it
    # per mutation epoch on elements (scoring/cleanup call this repeatedly
    # on unchanged nodes — the normalize regex was ~10% of kernel time)
    cacheable = node.node_type == ELEMENT_NODE
    if cacheable:
        ep = _node_mod._mutation_epoch
        if node._nt_epoch == ep:  # type: ignore[union-attr]
            return node._nt_val  # type: ignore[union-attr]
    value = node.text_content
    # precheck: runs of >=2 ws require a double space or a \t\n\r\f\v
    # anywhere — skips the regex on the (common) single-spaced text
    if (
        "  " in value or "\t" in value or "\n" in value
        or "\r" in value or "\f" in value or "\v" in value
    ):
        value = REGEXPS["normalize"].sub(" ", value)
    value = php_trim(value)
    if cacheable:
        node._nt_epoch = ep  # type: ignore[union-attr]
        node._nt_val = value  # type: ignore[union-attr]
    return value


def subtree_link_len(root: Node) -> int:
    """Σ over ``<a>`` descendants of ``root`` (root excluded) of the
    normalized-text length — exactly the ``link_length`` loop of
    ``get_link_density`` (NodeTrait.php:230-260), computed bottom-up with a
    per-mutation-epoch cache on each element.  The scoring pass queries
    link density on every candidate of overlapping ancestor chains; the
    uncached version re-walks the shared subtree per candidate (an ``a``
    DFS was 83% of all get_elements_by_tag_name calls).  Pure memoization:
    the same set of ``<a>`` descendants contributes the same per-link
    normalized lengths (nested ``<a>`` counted once each, as the flat
    descendant scan does), summed by commutative addition — the returned
    value is bit-identical to the flat loop's."""
    ep = _node_mod._mutation_epoch
    if root.node_type == ELEMENT_NODE and root._ll_epoch == ep:  # type: ignore[union-attr]
        return root._ll_val  # type: ignore[union-attr]
    acc = 0
    fin: list = []  # (element, accumulated-total-before-entering-it)
    n = root.first_child  # type: ignore[union-attr]
    while True:
        if n is None:
            if not fin:
                break
            e, saved = fin.pop()
            e._ll_epoch = ep
            e._ll_val = acc
            if e.tag == "a":
                acc += len(get_text_content(e, True))
            acc += saved
            n = e.next
            continue
        if type(n) is Element:
            if n._ll_epoch == ep:
                acc += n._ll_val
                if n.tag == "a":
                    acc += len(get_text_content(n, True))
            elif n.first_child is None:
                n._ll_epoch = ep
                n._ll_val = 0
                if n.tag == "a":
                    acc += len(get_text_content(n, True))
            else:
                fin.append((n, acc))
                acc = 0
                n = n.first_child
                continue
        n = n.next
    if root.node_type == ELEMENT_NODE:
        root._ll_epoch = ep  # type: ignore[union-attr]
        root._ll_val = acc  # type: ignore[union-attr]
    return acc


def get_link_density(node: Element) -> float:
    # NodeTrait.php:230-260
    text_length = len(get_text_content(node, True))
    if not text_length:
        return 0.0
    return subtree_link_len(node) / text_length


# --- ancestry --------------------------------------------------------------

def get_node_ancestors(node: Node, max_level: Union[int, bool] = 3) -> list[Element]:
    # NodeTrait.php:206-223; max_level=False → unbounded
    ancestors: list[Element] = []
    level = 0
    cur = node.parent
    while cur is not None and cur.node_type != 9:  # stop at Document
        ancestors.append(cur)
        level += 1
        if level == max_level:
            break
        cur = cur.parent
    return ancestors


def has_ancestor_tag(
    node: Node,
    tag: str,
    max_depth: int = 3,
    filter_fn: Optional[Callable[[Element], bool]] = None,
) -> bool:
    # NodeTrait.php:393-412 — note `depth > maxDepth` (off-by-one kept)
    depth = 0
    cur = node
    while cur.parent is not None:
        if max_depth > 0 and depth > max_depth:
            return False
        parent = cur.parent
        if parent.node_type == ELEMENT_NODE and parent.tag == tag and (
            filter_fn is None or filter_fn(parent)
        ):
            return True
        cur = parent
        depth += 1
    return False


# --- structure predicates ---------------------------------------------------

def filter_text_nodes(nodes: list[Node]) -> list[Node]:
    # NodeUtility.php:169-179
    return [
        n for n in nodes
        if n.node_type != TEXT_NODE or len(php_trim(n.node_value))
    ]


def has_single_tag_inside_element(node: Element, tag: str) -> bool:
    # NodeTrait.php:422-438
    children = filter_text_nodes(node.child_nodes)
    if len(children) != 1:
        return False
    only = children[0]
    return only.node_type == ELEMENT_NODE and only.tag == tag


def has_single_child_block_element(node: Element) -> bool:
    # NodeTrait.php:446-462 — recursive any() over descendants
    child = node.first_child
    while child is not None:
        if child.node_type == ELEMENT_NODE:
            if child.tag in DIV_TO_P_ELEMS:
                return True
            if has_single_child_block_element(child):
                return True
        child = child.next
    return False


def _has_non_ws_text(node: Node) -> bool:
    """True iff any descendant text node contains a non-whitespace char.
    Iterative with first-hit exit; comments contribute nothing (matching
    text_content)."""
    search = REGEXPS["nonWhitespace"].search
    stack: list = []
    n = node.first_child
    while n is not None or stack:
        if n is None:
            n = stack.pop()
            continue
        t = n.node_type
        if t == TEXT_NODE:
            if search(n.data) is not None:
                return True
        elif t == ELEMENT_NODE and n.first_child is not None:
            if n.next is not None:
                stack.append(n.next)
            n = n.first_child
            continue
        n = n.next
    return False


def is_element_without_content(node: Node) -> bool:
    # NodeTrait.php:469-488
    if node.node_type != ELEMENT_NODE:
        return False
    # "any non-whitespace?" — early-exit subtree walk over text nodes
    # (\S excludes \xa0 too, so this equals len(onlyWhitespace.sub("")) != 0
    # without materializing the concatenated subtree text; this runs inside
    # mutating walks where the text_content cache is always cold)
    if _has_non_ws_text(node):
        return False
    children = node.child_nodes
    if len(children) == 0:
        return True
    c = count_desc(node, ("br", "hr"))
    texts = sum(1 for ch in children if ch.node_type == TEXT_NODE)
    return len(children) == c["br"] + c["hr"] + texts


def is_phrasing_content(node: Node) -> bool:
    # NodeTrait.php:496-505
    if node.node_type == TEXT_NODE:
        return True
    if node.node_type != ELEMENT_NODE:
        return False
    if node.tag in PHRASING_ELEMS:
        return True
    if node.tag in ("a", "del", "ins"):
        child = node.first_child
        while child is not None:
            if not is_phrasing_content(child):
                return False
            child = child.next
        return True
    return False


def is_probably_visible(node: Element) -> bool:
    # NodeTrait.php:515-518
    return not _DISPLAY_NONE.search(node.get_attribute("style")) and not node.has_attribute("hidden")


def is_whitespace(node: Node) -> bool:
    # NodeTrait.php:523-527
    if node.node_type == TEXT_NODE:
        return len(php_trim(node.text_content)) == 0
    return node.node_type == ELEMENT_NODE and node.tag == "br"


def get_first_element_child(node: Element) -> Optional[Element]:
    # NodeTrait.php:575-586
    child = node.first_child
    while child is not None:
        if child.node_type == ELEMENT_NODE:
            return child
        child = child.next
    return None


def get_row_and_column_count(table: Element) -> tuple[int, int]:
    # NodeTrait.php:344-365 — PHP quirk: rowspan/colspan IGNORED (see module doc)
    rows = 0
    columns = 0
    for tr in table.iter_desc("tr"):
        rows += 1
        cells = len(tr.get_elements_by_tag_name("td"))
        columns = max(columns, cells)
    return rows, columns


# --- data-table marking (attribute-based, NodeTrait.php:82-107) ------------

def is_readability_data_table(node: Element) -> bool:
    return node.get_attribute("readabilityDataTable") == "1"


def set_readability_data_table(node: Element, value: bool) -> None:
    node.set_attribute("readabilityDataTable", "1" if value else "0")


# --- traversal (NodeUtility.php:45-160) -------------------------------------

def next_element(node: Optional[Node]) -> Optional[Node]:
    # NodeUtility.php:45-55 — skip whitespace text nodes (and <br>? no:
    # isWhitespace matches br but the loop requires NOT element, so only
    # whitespace *text* nodes are skipped)
    nxt = node
    while nxt is not None and nxt.node_type != ELEMENT_NODE and is_whitespace(nxt):
        nxt = nxt.next
    return nxt


def get_next_node(node: Node, ignore_self_and_kids: bool = False) -> Optional[Node]:
    # NodeUtility.php:131-160 — DFS: child, else sibling, else ancestor sibling
    if not ignore_self_and_kids and getattr(node, "first_child", None) is not None:
        return node.first_child  # type: ignore[union-attr]
    if node.next is not None:
        return node.next
    cur: Optional[Node] = node
    while True:
        cur = cur.parent
        if cur is None or cur.next is not None:
            break
    return cur.next if cur is not None else None


def remove_and_get_next(node: Node) -> Optional[Node]:
    # NodeUtility.php:99-106
    next_node = get_next_node(node, True)
    node.detach()
    return next_node


def remove_node(node: Node) -> None:
    # NodeUtility.php:113-121
    if node.parent is not None:
        node.detach()


def set_node_tag(node: Element, value: str, import_attributes: bool = True) -> Element:
    # NodeUtility.php:67-91 — new element, move children, copy attrs,
    # replace in parent.  Score/init state resets (fresh node), as in the
    # reference where the replacement is a newly imported element.
    new = Element(value)
    child = node.first_child
    while child is not None:
        nxt = child.next
        new.append_child(child)
        child = nxt
    if import_attributes:
        for name, val in node.attrs.items():
            new.set_attribute(name, val)
    if node.parent is not None:
        node.parent.insert_before(new, node)
        node.detach()
    return new


def shifting_aware_iter(root: Element, tag: str) -> Iterator[Element]:
    # NodeTrait.php:549-567 — re-snapshot after each yield, adjust index by
    # the number of nodes removed, never going below 0.  The re-snapshot is
    # skipped when no tree mutation happened since the last one (visit order
    # provably identical; avoids the reference's O(n²) rescan pattern).
    from ..dom.node import mutation_epoch

    nodes = root.get_elements_by_tag_name(tag)
    epoch = mutation_epoch()
    count = len(nodes)
    i = 0
    while i < count:
        yield nodes[i]
        now = mutation_epoch()
        if now != epoch:
            nodes = root.get_elements_by_tag_name(tag)
            epoch = now
            i -= count - len(nodes)
            count = len(nodes)
        i = max(i + 1, 0)


def count_desc(root: Element, tags: tuple) -> dict:
    """Count descendant elements per tag in ONE subtree walk (the reference
    runs getElementsByTagName once per tag — C4 does five walks per node,
    C8 four per paragraph; this fuses them, same counts)."""
    from ..dom.node import Element as _El

    counts = dict.fromkeys(tags, 0)
    stack: list = []
    n = root.first_child
    while n is not None or stack:
        if n is None:
            n = stack.pop()
            continue
        if type(n) is _El:  # type-exact check: see dom.node.iter_desc
            if n.tag in counts:
                counts[n.tag] += 1
            if n.first_child is not None:
                if n.next is not None:
                    stack.append(n.next)
                n = n.first_child
                continue
        n = n.next
    return counts
