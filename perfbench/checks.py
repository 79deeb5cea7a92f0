"""Correctness checks made apart from the program: DuckDB over the same
input files, and a plain-Python running-sum model.  All of them run
outside the timed region."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc

# The registry's parity rule (SURVEY.md §6): compare
# float columns at 6 decimals; the plans already round money and
# ratios further, identically in both engines.
FLOAT_DECIMALS = 6


def canon(tbl: pa.Table) -> pa.Table:
    """Order-insensitive canonical form: columns by name, floats and
    decimals rounded to FLOAT_DECIMALS, integers widened to int64,
    timestamps as naive UTC microseconds, rows sorted."""
    cols, names = [], sorted(tbl.column_names)
    for n in names:
        c = tbl.column(n)
        t = c.type
        if pa.types.is_decimal(t) or pa.types.is_floating(t):
            c = pc.round(c.cast(pa.float64()), FLOAT_DECIMALS)
        elif pa.types.is_integer(t):
            c = c.cast(pa.int64())
        elif pa.types.is_timestamp(t):
            c = c.cast(pa.timestamp("us", tz=t.tz)).cast(
                pa.timestamp("us")) if t.tz else c.cast(pa.timestamp("us"))
        elif pa.types.is_date(t):
            c = c.cast(pa.timestamp("us"))
        cols.append(c)
    out = pa.table(cols, names=names)
    if out.num_rows:
        out = out.sort_by([(n, "ascending") for n in names])
    return out.combine_chunks()


def same(a: pa.Table, b: pa.Table) -> bool:
    ca, cb = canon(a), canon(b)
    return ca.schema.names == cb.schema.names and ca.equals(cb)


def event_oracles(events_parquet: str, names: list[str]) -> dict:
    """Each query's registered DuckDB oracle over the events file."""
    import duckdb

    from data_ingestion_challenge_spark.plans import QUERIES

    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{events_parquet}'")
    return {n: con.sql(QUERIES[n].oracle).fetch_arrow_table()
            for n in names}


def materialized(sql: str) -> str:
    """``sql`` with every common table expression of a generated
    ``WITH`` list marked MATERIALIZED.  DuckDB otherwise inlines a CTE
    at each reference, and the admission oracle references its
    jaccard-pair table once per batch: 10 s on 600 documents against
    0.2 s materialized, with identical results."""
    import re
    return re.sub(r"\n    (\w+) AS \(", r"\n    \1 AS MATERIALIZED (", sql)


def near_dup_pairs_sql(tau: float, n: int = 3) -> str:
    """Pairs of docs in ``docs(doc_id, text)`` whose word-``n``-shingle
    jaccard reaches ``tau`` — written here, not taken from the
    program."""
    return f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM docs),
    sh AS (SELECT DISTINCT doc_id,
                  array_to_string(w[i:i+{n - 1}], ' ') AS s
           FROM (SELECT doc_id, w,
                        unnest(range(1, len(w) - {n - 2})) AS i
                 FROM w WHERE len(w) >= {n})),
    sz AS (SELECT doc_id, count(*) AS k FROM sh GROUP BY doc_id),
    ic AS (SELECT a.doc_id AS lo, b.doc_id AS hi, count(*) AS c
           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
    SELECT lo, hi, c / (x.k + y.k - c) AS j
    FROM ic JOIN sz x ON x.doc_id = lo JOIN sz y ON y.doc_id = hi
    WHERE c / (x.k + y.k - c) >= {tau}
    """
