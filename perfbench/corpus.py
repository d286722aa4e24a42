"""Seeded pages corpus and its DuckDB oracle.

The corpus is pages-shaped ``(url, warc_ts, html, text, lang, doc_id)``:
one row per document, ``text`` the newline-joined raw log lines that
``datagen.raw_lines_sql`` derives from ``doc_id``. The seed picks the
doc_id window, which moves the line mix, document lengths and
timestamps.

The oracle is an independent DuckDB derivation of every output the
workloads produce: ``queries._pipe_cte()`` re-derives parse → route
from ``(doc_id, lang)`` alone, and the registry's
``dsir_importance_weights`` SQL re-derives DSIR from ``text``. Outputs
are compared as (row count, order-independent fingerprint), computed
by the same SQL in both engines: the sum over rows of the first 40
bits of md5 of the ``|``-joined row. Corpus and oracle are cached in
the work directory, keyed by workload, seed, size and a hash of the
generator and oracle sources.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

# Column kinds a fingerprint understands: how each renders as text.
_RENDER = {
    "spark": {
        "str": "{c}",
        "int": "cast({c} as string)",
        "bool": "cast(cast({c} as int) as string)",
        "ts": "cast(unix_micros({c}) as string)",
        "f9": "cast(round({c}, 9) as string)",
    },
    "duckdb": {
        "str": "{c}",
        "int": "cast(cast({c} as BIGINT) as varchar)",
        "bool": "cast(cast({c} as int) as varchar)",
        "ts": "cast(epoch_us({c}) as varchar)",
    },
}

ECM_COLS = [("sink_class", "str"), ("bucket_start", "ts"), ("event_id", "str"), ("cnt", "int")]
OCC_COLS = [("event_id", "str"), ("occurrences", "int")]
SLIDING_COLS = [("win_start", "ts"), ("win_end", "ts"), ("event_id", "str"), ("cnt", "int")]
SINK_COLS = [("doc_id", "int"), ("line_no", "int"), ("event_id", "str")]
DSIR_COLS = [("doc_id", "int"), ("n_grams", "int"), ("logw_micro", "int"), ("keep", "bool")]
SCORE_COLS = [("doc_id", "int"), ("score_raw", "f9")]

# Files per corpus: enough input splits to keep every core busy.
N_FILES = 16


def row_hash_sql(cols: list[tuple[str, str]], dialect: str) -> str:
    joined = ", ".join(_RENDER[dialect][k].format(c=c) for c, k in cols)
    digest = f"substr(md5(concat_ws('|', {joined})), 1, 10)"
    if dialect == "spark":
        return f"cast(conv({digest}, 16, 10) as bigint)"
    return f"('0x' || {digest})::BIGINT"


def fingerprint_exprs(cols: list[tuple[str, str]], dialect: str) -> list[str]:
    """Aggregates (n, h): row count and order-independent hash."""
    return ["count(*) AS n", f"coalesce(sum({row_hash_sql(cols, dialect)}), 0) AS h"]


def fingerprint_sql(cols: list[tuple[str, str]], dialect: str) -> str:
    return ", ".join(fingerprint_exprs(cols, dialect))


def fingerprint_df(df, cols: list[tuple[str, str]]):
    """One-row plan that materializes every listed column of ``df``."""
    return df.selectExpr(*fingerprint_exprs(cols, "spark"))


def collect_fingerprint(fp_df) -> list[int]:
    """Run a ``fingerprint_df`` plan; return [n, h]."""
    row = fp_df.collect()[0]
    return [int(row["n"]), int(row["h"])]


def doc_window(seed: int, n_docs: int) -> tuple[int, int]:
    """[lo, hi) doc_id window for ``seed``; ids stay below 1e8, the
    width of the generator's zero-padded url field."""
    lo = (seed % 1000) * n_docs
    return lo, lo + n_docs


def _lang_case(col: str) -> str:
    return (
        f"CASE {col} % 10 WHEN 0 THEN 'de' WHEN 1 THEN 'fr' WHEN 2 THEN 'zh' "
        f"WHEN 3 THEN 'es' ELSE 'en' END"
    )


def _source_key() -> str:
    from loganalyzer_spark import datagen, queries

    h = hashlib.md5()
    h.update(datagen.raw_lines_sql("duckdb", "x").encode())
    h.update(queries._pipe_cte().encode())
    h.update(queries.oracle_sql()["dsir_importance_weights"].encode())
    with open(__file__, "rb") as f:
        h.update(f.read())
    return h.hexdigest()[:10]


def _duck():
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
    con.execute("SET memory_limit = '2GB'")
    return con


def _write_pages(con, out_dir: str, lo: int, hi: int) -> None:
    from loganalyzer_spark import datagen

    con.execute(
        f"CREATE OR REPLACE TEMP VIEW _docs AS SELECT range AS doc_id, "
        f"{_lang_case('range')} AS lang FROM range({lo}, {hi})"
    )
    lines = datagen.raw_lines_sql("duckdb", "_docs")
    con.execute(
        f"""CREATE OR REPLACE TEMP TABLE _pages AS
        SELECT url, timezone('UTC', warc_ts) AS warc_ts, encode(text) AS html,
               text, lang, doc_id
        FROM (SELECT doc_id, url, warc_ts, lang,
                     string_agg(raw, chr(10) ORDER BY line_no) AS text
              FROM ({lines}) GROUP BY ALL)"""
    )
    step = -(-(hi - lo) // N_FILES)
    for i in range(N_FILES):
        a, b = lo + i * step, min(hi, lo + (i + 1) * step)
        if a >= b:
            break
        con.execute(
            f"COPY (SELECT * FROM _pages WHERE doc_id >= {a} AND doc_id < {b} "
            f"ORDER BY doc_id) TO '{out_dir}/part-{i:03d}.parquet' (FORMAT PARQUET)"
        )


def _oracle(con, pages_dir: str, outputs: tuple[str, ...]) -> dict:
    from loganalyzer_spark import queries

    con.execute(
        f"CREATE OR REPLACE VIEW documents AS "
        f"SELECT * FROM read_parquet('{pages_dir}/*.parquet')"
    )
    fp = lambda cols: fingerprint_sql(cols, "duckdb")  # noqa: E731
    exp: dict = {}
    if {"ecm", "occurrences", "sliding", "sinks", "docs_scored"} & set(outputs):
        con.execute(
            "CREATE OR REPLACE TEMP TABLE _r AS "
            + queries._pipe_cte()
            + "SELECT doc_id, line_no, warc_ts, event_id, sink_class FROM _routed"
        )
    one = lambda sql: [int(v) for v in con.sql(sql).fetchone()]  # noqa: E731
    if "ecm" in outputs:
        exp["ecm"] = one(
            f"SELECT {fp(ECM_COLS)} FROM (SELECT sink_class, "
            "time_bucket(INTERVAL '1 minute', warc_ts) AS bucket_start, "
            "event_id, count(*) AS cnt FROM _r GROUP BY ALL)"
        )
    if "occurrences" in outputs:
        exp["occurrences"] = one(
            f"SELECT {fp(OCC_COLS)} FROM (SELECT event_id, "
            "count(*) AS occurrences FROM _r GROUP BY ALL)"
        )
    if "sliding" in outputs:
        # 10 s windows every 5 s: each row lies in exactly two windows.
        exp["sliding"] = one(
            f"SELECT {fp(SLIDING_COLS)} FROM (SELECT "
            "make_timestamp(ws) AS win_start, make_timestamp(ws + 10000000) AS win_end, "
            "event_id, count(*) AS cnt FROM (SELECT event_id, "
            "epoch_us(warc_ts) - epoch_us(warc_ts) % 5000000 - k * 5000000 AS ws "
            "FROM _r, (VALUES (0), (1)) AS _k(k)) GROUP BY ALL)"
        )
    if "sinks" in outputs:
        exp["sinks"] = {
            r[0]: [int(r[1]), int(r[2])]
            for r in con.sql(
                f"SELECT sink_class, {fp(SINK_COLS)} FROM _r GROUP BY sink_class"
            ).fetchall()
        }
    if "docs_scored" in outputs:
        exp["docs_scored"] = one("SELECT count(DISTINCT doc_id) FROM _r")[0]
    if "dsir" in outputs:
        dsir = queries.oracle_sql()["dsir_importance_weights"]
        exp["dsir"] = one(f"SELECT {fp(DSIR_COLS)} FROM ({dsir})")
    return exp


def prepare(work_dir: str, workload: str, seed: int, n_docs: int,
            outputs: tuple[str, ...]) -> tuple[str, dict]:
    """Build (or reuse) the corpus and its oracle; return (pages_dir, expected)."""
    lo, hi = doc_window(seed, n_docs)
    key = f"{workload}-s{seed}-n{n_docs}-{_source_key()}"
    root = os.path.join(work_dir, "cache", key)
    pages = os.path.join(root, "pages")
    oracle_json = os.path.join(root, "oracle.json")
    if not os.path.exists(oracle_json):
        tmp = f"{root}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.join(tmp, "pages"))
        con = _duck()
        try:
            _write_pages(con, os.path.join(tmp, "pages"), lo, hi)
            exp = _oracle(con, os.path.join(tmp, "pages"), outputs)
        finally:
            con.close()
        exp["doc_window"] = [lo, hi]
        with open(os.path.join(tmp, "oracle.json"), "w") as f:
            json.dump(exp, f)
        shutil.rmtree(root, ignore_errors=True)
        os.rename(tmp, root)
    with open(oracle_json) as f:
        return pages, json.load(f)
