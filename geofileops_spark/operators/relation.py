"""The ``join_by_location`` spatial-relation query mini-language.

Grammar (mirrors geofileops ``_geoops_sql.py:2345-2578``): terms of the
form ``<relation> is True|False`` combined with ``and`` / ``or`` /
brackets, where ``<relation>`` is a named relation or a raw 9-char
DE-9IM mask (``[FT012*]{9}``). Query is case sensitive exactly like the
reference (lowercase ``and/or/is``, capitalized ``True/False``).

The named-relation → mask table is copied semantically from the
reference (``_prepare_spatial_relation_filter``,
``_geoops_sql.py:2521-2533``) so join row sets match.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from ..geometry.predicates import PREDICATE_FNS, relate_match

NAMED_SPATIAL_RELATIONS = {
    "disjoint": ["FF*FF****"],
    "equals": ["TFFF*FFF*"],
    "touches": ["FT*******", "F**T*****", "F***T****"],
    "within": ["T*F**F***"],
    "overlaps": ["T*T***T**", "1*T***T**"],
    "crosses": ["T*T******", "T*****T**", "0********"],
    "intersects": ["T********", "*T*******", "***T*****", "****T****"],
    "contains": ["T*****FF*"],
    "covers": ["T*****FF*", "*T****FF*", "***T**FF*", "****T*FF*"],
    "coveredby": ["T*F**F***", "*TF**F***", "**FT*F***", "**F*TF***"],
}

# the DE-9IM matrix of two disjoint polygons — used to probe whether a
# query evaluates True for disjoint pairs (the reference probes this by
# actually running SQL on a test file, ``_is_query_true_for_disjoint_
# features`` _geoops_sql.py:2495-2515; we evaluate in-memory)
_DISJOINT_POLY_MATRIX = "FF2FF1212"


class SpatialQuery:
    """Compiled query: ``matches(matrix)`` evaluates the filter against a
    DE-9IM matrix string."""

    def __init__(self, query: str):
        self.query = query.strip()
        self._fn = _compile(self.query)
        self.true_for_disjoint = (
            self.matches(_DISJOINT_POLY_MATRIX) if self.query else True
        )

    def matches(self, matrix: str) -> bool:
        if not self.query:
            return True
        return self._fn(matrix)

    @property
    def simple(self) -> tuple[str, bool] | None:
        """``(predicate, want)`` when the query is one term
        ``<predicate> is True|False`` over a named predicate, else None
        (the reference's optimize_simple_queries,
        ``_geoops_sql.py:2398-2445``)."""
        q = self.query.lower().split()
        if len(q) == 3 and q[0] in PREDICATE_FNS and q[1] == "is":
            return q[0], q[2] == "true"
        return None

    def avoid_disjoint(self) -> "SpatialQuery":
        """Force 'and intersects is True' when the query would match
        disjoint pairs (mirrors avoid_disjoint=True + warning,
        ``_geoops_sql.py:2475-2492``)."""
        if not self.true_for_disjoint or not self.query:
            return self
        import warnings

        new = SpatialQuery(f"({self.query}) and intersects is True")
        warnings.warn(
            "The spatial relation query evaluated to True for disjoint "
            f"features. To avoid this, 'intersects is True' was added: {new.query}",
            stacklevel=2,
        )
        return new


def _compile(query: str) -> Callable[[str], bool]:
    if not query:
        return lambda m: True
    tokens = re.split("([ =()])", query)
    parts: list[str] = []
    masks: list[str] = []
    depth = 0
    for token in tokens:
        if token == "" or token in (" ", "\n", "\t"):
            continue
        if token in ("and", "or", "not"):
            parts.append(f" {token} ")
        elif token == "(":
            depth += 1
            parts.append("(")
        elif token == ")":
            depth -= 1
            parts.append(")")
        elif token == "is":
            parts.append(" == ")
        elif token == "True":
            parts.append("True")
        elif token == "False":
            parts.append("False")
        elif token in NAMED_SPATIAL_RELATIONS:
            ors = []
            for mask in NAMED_SPATIAL_RELATIONS[token]:
                masks.append(mask)
                ors.append(f"_rm(m, {len(masks) - 1})")
            parts.append("(" + " or ".join(ors) + ")")
        elif len(token) == 9 and re.fullmatch("^[FT012*]+$", token) is not None:
            masks.append(token)
            parts.append(f"_rm(m, {len(masks) - 1})")
        else:
            raise ValueError(
                f"unknown token {token!r} in spatial relation query "
                "(predicates and keywords are case-sensitive)"
            )
    if depth > 0:
        raise ValueError(f"unbalanced query (missing ')'): {query}")
    if depth < 0:
        raise ValueError(f"unbalanced query (extra ')'): {query}")
    expr = "".join(parts)
    mask_tuple = tuple(masks)

    def _rm(m: str, i: int) -> bool:
        return relate_match(m, mask_tuple[i])

    code = compile(expr, "<spatial-query>", "eval")

    def fn(m: str) -> bool:
        return bool(eval(code, {"_rm": _rm, "__builtins__": {}}, {"m": m}))

    return fn
