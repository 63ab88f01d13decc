"""Node scan & filter walk — F1-F10 (SURVEY.md §2.4) and byline detection M4.

One depth-first mutating walk from ``body.firstChild``
(``src/Readability.php:639-804``): drop comments / hidden nodes / bylines /
unlikely candidates / empty blocks, collect scoreable nodes, wrap phrasing
runs, unwrap single-``<p>`` divs, retag childless-block divs to ``<p>``.
"""

from __future__ import annotations

from typing import Optional

from ..dom.node import COMMENT_NODE, ELEMENT_NODE, Element, Node
from ..memo import BoundedMemo
from .nodeutil import (
    php_trim,
    filter_text_nodes,
    get_link_density,
    get_next_node,
    get_text_content,
    has_single_child_block_element,
    has_single_tag_inside_element,
    is_element_without_content,
    is_phrasing_content,
    is_probably_visible,
    is_whitespace,
    remove_and_get_next,
    set_node_tag,
)
from .regexes import REGEXPS

# src/Readability.php:97-107
DEFAULT_TAGS_TO_SCORE = frozenset(
    ["section", "h2", "h3", "h4", "h5", "h6", "p", "td", "pre"]
)


def is_valid_byline(text: str) -> bool:
    # src/Readability.php:795-804 (PHP trim semantics)
    byline = php_trim(text)
    return 0 < len(byline) < 100


def check_byline(ctx, node: Node, match_string: str) -> bool:
    """M4 — src/Readability.php:763-793.  ``ctx`` carries config + the
    mutable ``author`` state.  PHP operator precedence preserved:
    ``rel === 'author' || (regex-match && valid-length)``."""
    if not ctx.config.article_byline:
        return False
    if ctx.author:
        return False
    rel = node.get_attribute("rel") if node.node_type == ELEMENT_NODE else ""
    # text content evaluated lazily, mirroring PHP's short-circuit:
    # `$rel === 'author' || (preg_match(...) && isValidByline(getTextContent()))`
    # — the vast majority of nodes match neither arm and never pay the walk
    if rel == "author":
        ctx.author = php_trim(get_text_content(node))
        return True
    if _byline_hit(match_string):
        text = get_text_content(node)
        if is_valid_byline(text):
            ctx.author = php_trim(text)
            return True
    return False


# class+id match strings repeat heavily across nodes and documents
# (template markup; the bench corpus replicates fixture pages), so the
# per-node regex classifications are memoized per string — pure functions
# of their input, byte-identical outcomes (policy: readability_php_spark/
# memo.py)
_BYLINE_CACHE = BoundedMemo(100_000, max_key=4096)
_F4_CACHE = BoundedMemo(100_000, max_key=4096)


def _byline_hit(match_string: str) -> bool:
    v = _BYLINE_CACHE.get(match_string)
    if v is None:
        v = _BYLINE_CACHE.put(
            match_string, REGEXPS["byline"].search(match_string) is not None
        )
    return v


def _f4_unlikely(match_string: str) -> bool:
    """unlikelyCandidates AND NOT okMaybeItsACandidate, memoized."""
    v = _F4_CACHE.get(match_string)
    if v is None:
        v = _F4_CACHE.put(
            match_string,
            REGEXPS["unlikelyCandidates"].search(match_string) is not None
            and REGEXPS["okMaybeItsACandidate"].search(match_string) is None,
        )
    return v


def get_nodes(ctx, node: Optional[Node]) -> list[Element]:
    """F1-F10 — src/Readability.php:639-753.  ``ctx.flags['strip_unlikely']``
    is the retry-relaxable flag; returns ``elements_to_score``."""
    strip_unlikely = ctx.flags["strip_unlikely"]
    elements_to_score: list[Element] = []

    while node is not None:
        # F1: comments
        if node.node_type == COMMENT_NODE:
            node = remove_and_get_next(node)
            continue

        is_elem = node.node_type == ELEMENT_NODE
        if is_elem:
            # inline get_attribute (hot loop: runs once per surviving node
            # per retry attempt; two method calls + concat dominate F1-F4
            # dispatch on attribute-less trees)
            a = node.attrs
            match_string = (
                (a.get("class", "") + " " + a.get("id", "")) if a else " "
            )
        else:
            match_string = " "

        # F2: hidden nodes
        if is_elem and not is_probably_visible(node):
            node = remove_and_get_next(node)
            continue

        # F3/M4: byline (removes the node)
        if check_byline(ctx, node, match_string):
            node = remove_and_get_next(node)
            continue

        # F4: unlikely candidates
        if strip_unlikely and is_elem:
            if (
                node.tag != "body"
                and node.tag != "a"
                and _f4_unlikely(match_string)
            ):
                node = remove_and_get_next(node)
                continue

        # F5: empty div/section/header/h1-h6/p
        if is_elem and node.tag in (
            "div", "section", "header", "h1", "h2", "h3", "h4", "h5", "h6", "p"
        ) and is_element_without_content(node):
            node = remove_and_get_next(node)
            continue

        # F6: scoreable projection
        if is_elem and node.tag in DEFAULT_TAGS_TO_SCORE:
            elements_to_score.append(node)

        # F7-F9: div transforms
        if is_elem and node.tag == "div":
            # F7: wrap maximal phrasing runs into <p>
            p: Optional[Element] = None
            child = node.first_child
            while child is not None:
                next_sibling = child.next
                if is_phrasing_content(child):
                    if p is not None:
                        p.append_child(child)
                    elif not is_whitespace(child):
                        p = Element("p")
                        node.insert_before(p, child)
                        p.append_child(child)
                elif p is not None:
                    while p.last_child is not None and is_whitespace(p.last_child):
                        p.remove_child(p.last_child)
                    p = None
                child = next_sibling

            # F8: single-<p> div unwrap
            if has_single_tag_inside_element(node, "p") and get_link_density(node) < 0.25:
                p_node = filter_text_nodes(node.child_nodes)[0]
                parent = node.parent
                if parent is not None:
                    parent.insert_before(p_node, node)
                    node.detach()
                    node = p_node
                    elements_to_score.append(node)
            # F9: div with no block-level descendant → p
            elif not has_single_child_block_element(node):
                node = set_node_tag(node, "p")
                elements_to_score.append(node)

        node = get_next_node(node)

    return elements_to_score
