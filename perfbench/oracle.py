"""Independent DuckDB reconstruction of the frontier pipeline's output.

`bench.synth_frontier` writes five messy spellings of each URL; all of
them canonicalize to ``http://h<uid % 997>.example.org/p/<uid>``, with
the tracking parameter dropped and the rest sorted (``?a=1&b=2``) for the
fifth spelling. Every third uid is pre-seen. The survivors keep the top
``per_host`` per host by (price desc, url) and are numbered globally by
(price desc, host, url) from 1.
"""

from __future__ import annotations

import duckdb


def frontier_admitted(
    orders_path: str, expand: int, uid_offset: int, hosts: int, per_host: int
) -> list[tuple[int, str, str]]:
    sql = f"""
    WITH f AS (
        SELECT o_orderkey * {expand} + rep + {uid_offset} AS uid,
               o_totalprice AS priority
        FROM read_parquet(?), range({expand}) AS r(rep)
    ), c AS (
        SELECT priority,
               'h' || (uid % {hosts}) || '.example.org' AS host,
               'http://h' || (uid % {hosts}) || '.example.org/p/' || uid
                 || CASE WHEN uid % 5 = 4 THEN '?a=1&b=2' ELSE '' END AS canon_url
        FROM f WHERE uid % 3 <> 0
    ), top AS (
        SELECT * FROM c
        QUALIFY row_number() OVER (
            PARTITION BY host ORDER BY priority DESC, canon_url) <= {per_host}
    )
    SELECT row_number() OVER (ORDER BY priority DESC, host, canon_url) AS seq,
           canon_url, host
    FROM top ORDER BY seq
    """
    con = duckdb.connect()
    try:
        return [tuple(r) for r in con.execute(sql, [orders_path]).fetchall()]
    finally:
        con.close()
