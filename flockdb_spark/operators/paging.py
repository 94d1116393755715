"""Keyset (cursor) pagination — never OFFSET (``doc/blog.md:63-65``).

Reproduces the reference's ResultWindow semantics
(``ResultWindow.scala:34-104``, generic pager ``shards/SqlShard.scala:258-314``):

- a page of N rows ordered by a sort column (DESC by default),
- ``next_cursor`` when more rows follow, ``prev_cursor`` when rows precede,
- backward paging expressed as a negative cursor: scan ASC past the cursor
  row, then reverse the page (``ResultWindow.scala:44-57``,
  ``SqlShard.scala:265-275``).

Differences from the reference, on purpose:
- the cursor is compound ``(sort_value, id)`` so pagination is total even with
  duplicate sort values (the reference's single-column position cursor can skip
  ties);
- the "fetch the continue-cursor probe in the same round trip via UNION ALL"
  trick (``SqlShard.scala:263-278``) is kept: one SQL statement over the
  caller's DataFrame serves the page *and* its opposite-direction probe,
  ``(… ORDER BY … LIMIT n+1) UNION ALL (… LIMIT 1)`` (the page's own extra
  row is the same-direction probe).  A Start page is one Spark job.  A
  cursor page over a multi-partition ``df`` is two: inside the UNION the
  page's top-k goes through a single-partition exchange, which AQE runs as
  its own job.  Over a single-partition ``df`` (``FlockService``'s serving
  view, whose edges are ``coalesce(1)``) the exchange is not needed and a
  cursor page is one job too.

At scale the page query is a filter + top-k (TakeOrderedAndProject on a
Start page) — no shuffle of the data, no full materialization of the
underlying set.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

# sentinel cursors (Cursor.scala:19-30)
CURSOR_START = "start"
CURSOR_END = "end"


@dataclass(frozen=True)
class Cursor:
    """Compound keyset cursor. ``backward=True`` pages toward newer rows."""

    value: int
    id: int
    backward: bool = False

    def flipped(self) -> "Cursor":
        return Cursor(self.value, self.id, not self.backward)


@dataclass
class Page:
    rows: list  # (sort_value, id) tuples in user-facing order
    next_cursor: Cursor | str
    prev_cursor: Cursor | str
    full_rows: list | None = None  # whole source rows (selectEdges, R8)


def paginate(
    df: DataFrame,
    sort_col: str,
    id_col: str,
    count: int,
    cursor: Cursor | str = CURSOR_START,
    descending: bool = True,
    include_rows: bool = False,
) -> Page:
    """One page plus both cursors, from one SQL statement over ``df``.

    ``df`` must contain ``sort_col`` and ``id_col``.  Rows are returned in the
    user-facing order (descending by default), regardless of paging direction.
    """
    # "desc" here means the user-facing ordering; a backward cursor walks it
    # in reverse and the page is flipped before returning.
    walking_back = isinstance(cursor, Cursor) and cursor.backward
    scan_desc = descending != walking_back
    order = "DESC" if scan_desc else "ASC"
    cols = f"`{sort_col}` AS _s, `{id_col}` AS _i"
    row = "struct(*)" if include_rows else "CAST(NULL AS STRING)"
    page = f"SELECT {cols}, {row} AS _row, false AS _probe FROM {{df}}"
    limit = f"ORDER BY _s {order}, _i {order} LIMIT {int(count) + 1}"
    if isinstance(cursor, Cursor):
        # (sort, id) past / before the cursor in scan order — lexicographic,
        # via struct comparison
        key = f"struct(CAST(`{sort_col}` AS BIGINT), CAST(`{id_col}` AS BIGINT))"
        at = f"struct({int(cursor.value)}L, {int(cursor.id)}L)"
        past, before = ("<", ">") if scan_desc else (">", "<")
        # same-trip probe: page and opposite-direction existence check in
        # one statement (mirrors the UNION ALL at SqlShard.scala:268-271)
        text = (
            f"({page} WHERE {key} {past} {at} {limit}) UNION ALL "
            f"(SELECT {cols}, NULL AS _row, true AS _probe FROM {{df}} "
            f"WHERE {key} {before} {at} LIMIT 1)"
        )
    else:
        text = f"{page} {limit}"
    collected = df.sparkSession.sql(text, df=df).collect()

    page_recs = [r for r in collected if not r["_probe"]]
    has_opposite = any(r["_probe"] for r in collected)
    has_more = len(page_recs) > count
    page_recs = page_recs[:count]
    if walking_back:
        page_recs.reverse()
        first_more, last_more = has_more, has_opposite
    else:
        first_more, last_more = has_opposite, has_more
    rows = [(r["_s"], r["_i"]) for r in page_recs]
    full_rows = [r["_row"] for r in page_recs] if include_rows else None

    next_cursor: Cursor | str = CURSOR_END
    prev_cursor: Cursor | str = CURSOR_START
    if rows:
        if last_more:
            next_cursor = Cursor(rows[-1][0], rows[-1][1], backward=False)
        if first_more:
            prev_cursor = Cursor(rows[0][0], rows[0][1], backward=True)
    return Page(rows, next_cursor, prev_cursor, full_rows)


def paginate_all(
    df: DataFrame, sort_col: str, id_col: str, count: int, descending: bool = True
) -> list[Page]:
    """Walk every page forward — the Q6 fixture helper."""
    pages: list[Page] = []
    cursor: Cursor | str = CURSOR_START
    while True:
        page = paginate(df, sort_col, id_col, count, cursor, descending)
        if not page.rows:
            break
        pages.append(page)
        if page.next_cursor == CURSOR_END:
            break
        cursor = page.next_cursor
    return pages
