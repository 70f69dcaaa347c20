"""E1/E2 — the ErrorSum bitmask algebra as integer-column expressions.

Mirrors /root/reference/src/errorsum.hpp exactly: 12 flag bits; the
``set_rivermouth``/``set_outflow``/``set_poss_*`` setters *overwrite* the
whole mask (``=`` not ``+=``, errorsum.hpp:45-59); ``switch_poss`` only
fires for river-flagged possibles (errorsum.hpp:132-142 — stream-flagged
possibles are emitted with all six output error flags false, quirk
SURVEY.md §7.6.4). E3 (falsepositives.hpp:64-77, delete_error_node) is
applied set-wise by operators/false_positives.apply_pass3/apply_pass4.

Each builder takes a mask column name (or SQL fragment) and is one SQL
string parsed by a single F.expr; values and types are pinned by
tests/test_tags.py::test_tag_and_error_expressions_match_pinned_digests.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DIRECTION = 1
NAME = 2
TYPE = 4
SPRING = 8
END = 16
RIVERMOUTH = 32
OUTFLOW = 64
POSS_RIVERMOUTH = 128
POSS_OUTFLOW = 256
STREAM = 512
RIVER = 1024
WAY = 2048


def has(mask: str, bit: int) -> Column:
    return F.expr(_has_sql(mask, bit))


def _has_sql(mask: str, bit: int) -> str:
    return f"(({mask} & {bit}) != 0)"


def switch_poss(mask: str) -> Column:
    """E2 — errorsum.hpp:129-142, applied at finalize
    (datastorage.hpp:408-417): river & poss_rivermouth -> end_error;
    river & poss_outflow -> spring_error; everything else unchanged.
    ``set_end_error``/``set_spring_error`` are idempotent (errorsum.hpp:37-43
    adds the bit only when not already set), so a mask already carrying the
    target bit only loses the poss bit."""
    h = lambda b: _has_sql(mask, b)  # noqa: E731
    return F.expr(
        f"CASE WHEN {h(RIVER)} AND {h(POSS_RIVERMOUTH)} THEN "
        f"(CASE WHEN {h(END)} THEN {mask} - {POSS_RIVERMOUTH} "
        f"ELSE {mask} - {POSS_RIVERMOUTH} + {END} END) "
        f"WHEN {h(RIVER)} AND {h(POSS_OUTFLOW)} THEN "
        f"(CASE WHEN {h(SPRING)} THEN {mask} - {POSS_OUTFLOW} "
        f"ELSE {mask} - {POSS_OUTFLOW} + {SPRING} END) "
        f"ELSE {mask} END"
    )


def node_output_columns(mask: str) -> dict[str, Column]:
    """O4 — datastorage.hpp:340-377: mask -> the nodes-table string columns."""
    bs = lambda b: (f"(CASE WHEN {_has_sql(mask, b)} "  # noqa: E731
                    f"THEN 'true' ELSE 'false' END)")
    return {
        "specific": F.expr(
            f"CASE WHEN {_has_sql(mask, RIVERMOUTH)} THEN 'rivermouth' "
            f"WHEN {_has_sql(mask, OUTFLOW)} THEN 'outflow' ELSE '' END"
        ),
        "direction_error": F.expr(bs(DIRECTION)),
        "name_error": F.expr(bs(NAME)),
        "type_error": F.expr(bs(TYPE)),
        "spring_error": F.expr(bs(SPRING)),
        "end_error": F.expr(bs(END)),
        "way_error": F.expr(bs(WAY)),
    }
