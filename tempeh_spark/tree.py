"""Token stream → node tree, matching the reference tree builder exactly.

Reimplements the semantics of the reference's recursive ``parseChildNodes``
(parseTemplate.js:23-247) with an explicit stack (no recursion — a 100 MB
pathological document cannot blow the Python stack):

* empty text tokens are dropped (parseTemplate.js:50-53);
* tag-name casing is applied in the builder, to opening AND closing names
  (parseTemplate.js:68-78, 185-194) — so in ``preserve`` mode ``</div>``
  does not close ``<Div>``;
* ``ATTRIBUTE_VALUE`` attaches to the last pushed attribute; with no
  attribute open it is a hard parse error (parseTemplate.js:113-130);
* a closing tag unwinds to the nearest matching open ancestor, implicitly
  closing intermediates; a closing tag matching no ancestor is ignored
  (parseTemplate.js:184-208);
* elements are attached to their parent at OPENING_TAG_END /
  SELF_CLOSING_TAG_END — so EOF inside an opening tag silently drops the
  element and its attributes, while EOF after the tag end keeps the element
  with children-so-far (parseTemplate.js:131-156);
* ERROR tokens abort the whole document (parseTemplate.js:40-49):
  per-document ``error`` output instead of a job failure.

Node dicts use the canonical key order shared with the golden serializer:
element ``tagName, attributes?, children?, l, c``; attribute ``name, value,
l, c``; text ``textContent, l, c``; doctype/comment likewise.
"""

from __future__ import annotations

from dataclasses import dataclass

from tempeh_spark.tokenizer import (
    ATTR_NAME,
    ATTR_VALUE,
    CLOSE_NAME,
    COMMENT,
    DOCTYPE,
    EOF,
    ERROR,
    OPEN_END,
    OPEN_NAME,
    SELF_CLOSE_END,
    TEXT,
)

KIND_ELEMENT = "element"
KIND_TEXT = "text"
KIND_COMMENT = "comment"
KIND_DOCTYPE = "doctype"


@dataclass
class BuildResult:
    nodes: list | None  # canonical nested dicts (None on error)
    error: str | None
    n_tokens: int = 0


class ParseError(Exception):
    pass


def _case(name: str, mode: str) -> str:
    if mode == "lower":
        return name.lower()
    if mode == "upper":
        return name.upper()
    return name


def build_tree(tokens: list, tag_name_casing: str = "lower") -> BuildResult:
    """Consume the token list and build the canonical nested node list."""
    root_children: list = []
    # stack entries: (node_dict, normalized_tag); node_dict["children"] holds
    # the growing child list (pruned at the end if empty)
    stack: list = []
    cur = root_children

    i = 0
    ntok = len(tokens)
    try:
        while i < ntok:
            typ, val, l, c = tokens[i]
            if typ == TEXT:
                if val:
                    cur.append({"textContent": val, "l": l, "c": c})
                i += 1
            elif typ == OPEN_NAME:
                i = _consume_element(tokens, i, stack, cur, tag_name_casing)
                cur = stack[-1][0]["children"] if stack else root_children
            elif typ == CLOSE_NAME:
                name = _case(val, tag_name_casing)
                hit = -1
                for k in range(len(stack) - 1, -1, -1):
                    if stack[k][1] == name:
                        hit = k
                        break
                if hit >= 0:
                    del stack[hit:]
                    cur = stack[-1][0]["children"] if stack else root_children
                # else: stray closing tag, ignored
                i += 1
            elif typ == COMMENT:
                cur.append({"comment": val, "l": l, "c": c})
                i += 1
            elif typ == DOCTYPE:
                cur.append({"doctypeDeclaration": val, "l": l, "c": c})
                i += 1
            elif typ == EOF:
                break
            elif typ == ERROR:
                raise ParseError(f"Tempeh parsing error: {val} at {l}:{c}")
            else:
                raise ParseError(
                    f"Tempeh parsing error: Encountered unexpected token type {typ} at {l}:{c}"
                )
    except ParseError as e:
        return BuildResult(None, str(e), ntok)

    _prune(root_children)
    return BuildResult(root_children, None, ntok)


def _consume_element(tokens: list, i: int, stack: list, cur: list, casing: str) -> int:
    """Handle OPEN_NAME + the attribute/tag-end tokens that follow. Mutates
    ``stack``/``cur``; returns the next token index."""
    typ, val, l, c = tokens[i]
    tag = _case(val, casing)
    # reference bug replicated for byte-exact errors: an ERROR token consumed
    # inside the element loop aborts with the OPENING_TAGNAME token's value
    # and position, not the error's (parseTemplate.js:157-166 interpolates
    # the outer `token`, verified by differential fuzzing)
    open_val, open_l, open_c = val, l, c
    node: dict = {"tagName": tag, "l": l, "c": c}
    attrs: list | None = None
    i += 1
    ntok = len(tokens)
    while i < ntok:
        typ, val, l, c = tokens[i]
        if typ == ATTR_NAME:
            if attrs is None:
                attrs = []
                node["attributes"] = attrs
            attrs.append({"name": val, "value": "", "l": l, "c": c})
            i += 1
        elif typ == ATTR_VALUE:
            if not attrs:
                raise ParseError(
                    f"Tempeh parsing error: Encountered unexpected attribute value {val} at {l}:{c}"
                )
            attrs[-1]["value"] = val
            i += 1
        elif typ == SELF_CLOSE_END:
            _reorder(node, with_children=False)
            cur.append(node)
            return i + 1
        elif typ == OPEN_END:
            _reorder(node, with_children=True)
            cur.append(node)
            stack.append((node, tag))
            return i + 1
        elif typ == EOF:
            # unterminated opening tag: element dropped entirely
            return ntok
        elif typ == ERROR:
            raise ParseError(
                f"Tempeh parsing error: {open_val} at {open_l}:{open_c}"
            )
        else:
            raise ParseError(
                f"Tempeh parsing error: Encountered unexpected token type {typ} at {l}:{c}"
            )
    return ntok


def _reorder(node: dict, with_children: bool) -> None:
    """Canonical key order: tagName, attributes?, children?, l, c."""
    l = node.pop("l")
    c = node.pop("c")
    if with_children:
        node["children"] = []
    node["l"] = l
    node["c"] = c


def _prune(nodes: list) -> None:
    """Drop empty ``children`` keys (reference omits the key when an element
    resolves with no children, HTMLParser.js:59-66). Iterative — deeply
    nested (broken) real-world pages must not hit the recursion limit."""
    work = [nodes]
    while work:
        lst = work.pop()
        for nd in lst:
            ch = nd.get("children")
            if ch is not None:
                if ch:
                    work.append(ch)
                else:
                    del nd["children"]
