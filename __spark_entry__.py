"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the engine's operator surface over the driver's test
tables; ``oracle_sql()`` carries the DuckDB twin for every SQL-expressible
query.  The flagship ``extract_grid4`` runs the REAL extraction pipeline
(mapInArrow geometry kernel) over pages synthesized deterministically from
``documents.text`` whose generic-layout output is independently derivable in
SQL — so the oracle checks the full Spark pipeline end to end at the value
level (byte-level identity is separately pinned by the pytest goldens).

Both come from one ``_REGISTRY`` table of (name, query, oracle) rows.  A
row's query names its input loader and its operator, ``_over(_docs,
textstats.token_count)``, or the synthesized page kinds and columns of an
extraction, ``_extracted(["fin"], _EXTRACT_COLS)``; a ``q_`` function is
left only where a query builds its input or reshapes its output.

Column aliases match between each Spark query and its oracle (driver hashes
sort columns by name).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_table_extractor_to_csv_spark.kernel import boilerplate
from ocr_table_extractor_to_csv_spark.operators.extract import extract_pages
from ocr_table_extractor_to_csv_spark.operators import (
    bpe,
    curation,
    dedup,
    graph,
    similarity,
    sketches,
    textstats,
    weburl,
)
from ocr_table_extractor_to_csv_spark.operators.evaluation import numeric_metrics
from ocr_table_extractor_to_csv_spark.plans.partitioning import fan_out
from ocr_table_extractor_to_csv_spark.plans.scope import RunScope
from ocr_table_extractor_to_csv_spark.sources import pages as P
from ocr_table_extractor_to_csv_spark.sources import warc
from ocr_table_extractor_to_csv_spark.sources.pages import pages_from_documents


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# Scale-adaptive map fan-out (optimization guide §2.5: derive partitioning
# from input size, never a constant).  The sf test tables are single-file,
# single-row-group parquet, so every map-heavy operator inherits a ONE-task
# scan regardless of cores; spreading a tiny table across the default
# parallelism costs a sub-MB round-robin shuffle and parallelizes the map
# compute by the core count (measured 2-4x on the shuffle-bearing heavy
# queries at sf0.1).  Above the threshold the helper is the IDENTITY: a
# real corpus scan already has enough splits, and a blanket repartition
# there would shuffle the whole corpus (the guide's §2.4 anti-pattern).
# Only applied to queries whose aggregates are partition-order-free
# (integer sums / min / max / count / md5 keys / per-row folds) — the
# cross-row double-sum queries (eval_numeric, eval_text) keep their scan
# order.
_FAN_MAX_BYTES = 256 * 1024 * 1024


def _table_bytes(sf_dir: str, table: str) -> int:
    import os

    p = os.path.join(sf_dir, f"{table}.parquet")
    if "://" in p:
        return _FAN_MAX_BYTES + 1  # object store: size unknown, assume big
    if os.path.isdir(p):
        return sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(p)
            for f in files
        )
    return os.path.getsize(p)  # a missing local table raises here


def _fan(df: DataFrame, sf_dir: str, table: str) -> DataFrame:
    return fan_out(df) if _table_bytes(sf_dir, table) <= _FAN_MAX_BYTES else df


# A queries() caller collects the returned lazy frame after the query
# function returns, so the caches and checkpoints behind it must outlive
# the call.  Each query name owns one RunScope, closed when that query is
# built again (callers build and collect one query at a time).
_SCOPES: dict[str, RunScope] = {}


def _scope(spark: SparkSession, name: str) -> RunScope:
    old = _SCOPES.pop(name, None)
    if old is not None:
        old.close()
    _SCOPES[name] = scope = RunScope(spark)
    return scope


def _docs_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fan(_docs(spark, sf_dir), sf_dir, "documents")


def _emb_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fan(_emb(spark, sf_dir), sf_dir, "embeddings")


Query = Callable[[SparkSession, str], DataFrame]


def _over(loader: Query, operator: Callable[..., DataFrame], **kw) -> Query:
    """The query ``operator(loader(spark, sf_dir), **kw)``."""
    return lambda spark, sf_dir: operator(loader(spark, sf_dir), **kw)


def _scoped(operator: Callable[..., DataFrame], name: str) -> Callable[..., DataFrame]:
    """``operator`` run in the RunScope of the query ``name``."""
    return lambda df, **kw: operator(df, **kw, scope=_scope(df.sparkSession, name))


# ---------------------------------------------------------------------------
# Extraction queries: pages synthesized from documents.text (one builder per
# kind in sources/pages.py KINDS, each with the reason its extraction is
# derivable) run through the real extraction pipeline; every oracle
# recomputes the CSV text in SQL from the same tokens.
# ---------------------------------------------------------------------------


def _strip_bom_text(col):
    # csv BINARY starts with the utf-8-sig BOM; decode and drop U+FEFF
    return F.expr(f"substring(decode({col}, 'UTF-8'), 2)")


def _extract_kinds(docs: DataFrame, kinds: list[str]) -> DataFrame:
    """The synthesized pages of ``kinds`` through one per-row-dispatch
    extraction, keyed by the url's (doc_id, variant), with md5s of the CSV,
    the numeric CSV and the main text."""
    url = F.split(F.col("url"), "://")
    ext = extract_pages(pages_from_documents(docs, kinds), per_row_dispatch=True)
    return ext.select(
        url[1].cast("long").alias("doc_id"),
        url[0].alias("variant"),
        "layout",
        "n_rows",
        "n_cols",
        F.md5(_strip_bom_text("csv")).alias("csv_md5"),
        F.md5(_strip_bom_text("csv_numeric")).alias("num_md5"),
        F.md5(F.col("main_text")).alias("text_md5"),
    )


_EXTRACT_COLS = ("doc_id", "n_rows", "n_cols", "csv_md5", "text_md5")


def _extracted(kinds: list[str], cols: tuple[str, ...]) -> Query:
    """The query selecting ``cols`` of ``_extract_kinds`` over ``kinds``."""
    return lambda spark, sf_dir: _extract_kinds(_docs(spark, sf_dir), kinds).select(*cols)


_TOKS_GRID_SQL = f"""
  SELECT doc_id,
         CASE WHEN trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) = ''
              THEN []::VARCHAR[]
              ELSE list_transform(
                     string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
                     t -> t[1:{P.MAX_TOKEN_LEN}])
         END AS ts
  FROM documents
"""


_CRLF = "chr(13)||chr(10)"


def _eligible(kind: str) -> str:  # SQL over ts: the document has a ``kind`` page
    return f"len(ts) >= {P.KINDS[kind][1]}"


def _rows_oracle(where, k, line, n_rows, csv, n_cols, head="", num=False) -> str:
    """One grid-page oracle over ``toks``: the documents whose tokens pass
    ``where`` get ``k`` lines ``line`` (SQL over the row index r and the
    token list ts), after the constant line ``head`` when given.  The CSV
    is ``csv`` (SQL over the CRLF-joined lines ``body``), ``n_rows`` is SQL
    over the line count ``total``, and ``num`` adds the numeric CSV (the
    same bytes for these pages).  Main text is the lines with commas as
    spaces, one per text line."""
    first = f"SELECT doc_id, 0 AS r, {head} AS line FROM ok\n  UNION ALL\n  " if head else ""
    num_md5 = f"md5({csv}) AS num_md5,\n       " if num else ""
    return f"""
WITH toks AS ({_TOKS_GRID_SQL}), ok AS (
  SELECT doc_id, ts, CAST({k} AS INT) AS k FROM toks WHERE {where}
), lines AS (
  {first}SELECT doc_id, r + {1 if head else 0} AS r, {line} AS line
  FROM ok, UNNEST(generate_series(0, k - 1)) AS u(r)
), agg AS (
  SELECT doc_id,
         string_agg(line, {_CRLF} ORDER BY r) AS body,
         string_agg(replace(line, ',', ' '), chr(10) ORDER BY r) AS main_text,
         count(*) AS total
  FROM lines GROUP BY doc_id
)
SELECT doc_id,
       CAST({n_rows} AS INT) AS n_rows,
       CAST({n_cols} AS INT) AS n_cols,
       md5({csv}) AS csv_md5,
       {num_md5}md5(main_text) AS text_md5
FROM agg
"""


def _values_sql(pro: bool) -> str:
    """The value cells of label/value row r (pages.value_cell over the
    tokens ts[3*r+2], ts[3*r+3]), each after a comma."""
    cells = ""
    for w, (a, b, m) in enumerate(P.VALUE_COEFFS):
        s = f"length(ts[3*r+{w + 2}]) * {a} + r * {b}"
        v = f"{P.PRO_VALUE_OFFSET} + ({s}) % {P.PRO_VALUE_MOD}" if pro else f"({s}) % {m} + 1"
        cells += f" || ',' || CAST({v} AS VARCHAR)"
    return cells


def _dots_sql(label_len: str) -> str:
    """The leader dots after a dyn label of ``label_len`` chars, one ' .'
    per dot pages._dyn_line places."""
    x0 = P.DYN_LEADER_TO - P.DYN_DOT_W - P.LABEL_X - P.DYN_LEADER_GAP
    return f"repeat(' .', (({x0} - {P.CHAR_W} * {label_len}) // {P.DYN_DOT_STEP}) + 1)"


# the grid oracles: ts[i] is the i-th token, r the row index
_GRID4_LINE = "ts[4*r+1] || ',' || ts[4*r+2] || ',' || ts[4*r+3] || ',' || ts[4*r+4]"


def _grid4_oracle(kind: str) -> str:
    return _rows_oracle(
        _eligible(kind), "len(ts) // 4", _GRID4_LINE, "total - 1", f"body || {_CRLF}", 4
    )


ORACLE_GRID4 = _grid4_oracle("doc")


ORACLE_FIN_GRID = _rows_oracle(
    _eligible("fin"), "len(ts) // 3", "'l' || ts[3*r+1]" + _values_sql(False),
    "total", f"'Cuenta,Valor_1,Valor_2' || {_CRLF} || body || {_CRLF}", 3,
)


_DYN_LABEL, _DYN_YEARS = P.DYN_HEADER[0], ",".join(P.DYN_HEADER[1])
ORACLE_DYN_GRID = _rows_oracle(
    _eligible("dyn"), f"least(len(ts) // 3, {P.DYN_MAX_ROWS})",
    "'l' || ts[3*r+1] || " + _dots_sql("(1 + length(ts[3*r+1]))") + _values_sql(False),
    "total", f"'Cuenta,{_DYN_YEARS}' || {_CRLF} || body || {_CRLF}", 3,
    head=f"'{_DYN_LABEL}' || {_dots_sql(str(len(_DYN_LABEL)))} || ',{_DYN_YEARS}'", num=True,
)


def q_dataset_grid(spark, sf_dir):
    """LayoutLM dataset builder over the synthesized grid pages; labels and
    header are independently derivable in SQL from documents.text."""
    from ocr_table_extractor_to_csv_spark.operators.dataset import build_examples

    pages = pages_from_documents(_docs(spark, sf_dir), ["doc"])
    ex = build_examples(pages.select("doc_id", "url", "html"))
    return ex.where(F.col("error").isNull()).select(
        F.split(F.col("url"), "://")[1].cast("long").alias("doc_id"),
        F.size("words").alias("n_words"),
        F.md5(F.concat_ws(",", "labels")).alias("labels_md5"),
        F.concat_ws(",", "table_header").alias("header_csv"),
        F.col("header_index").alias("header_index"),
    )


ORACLE_DATASET_GRID = f"""
WITH toks AS ({_TOKS_GRID_SQL}), ok AS (
  SELECT doc_id, ts, CAST((len(ts) // 4) * 4 AS INT) AS n FROM toks WHERE {_eligible("doc")}
)
SELECT doc_id,
       n AS n_words,
       md5(list_aggregate(
         list_transform(generate_series(0, n - 1),
           i -> CASE WHEN i < 4 THEN 'HEADER_COL_' || (i % 4)
                     ELSE 'BODY_COL_' || (i % 4) END),
         'string_agg', ',')) AS labels_md5,
       ts[1] || ',' || ts[2] || ',' || ts[3] || ',' || ts[4] AS header_csv,
       CAST(0 AS INT) AS header_index
FROM ok
"""


ORACLE_PRO_GRID = _rows_oracle(
    _eligible("pro"), "len(ts) // 3", "'lbl' || ts[3*r+1]" + _values_sql(True),
    "total - 1", f"body || {_CRLF}", 3,
)


_PARA = P.BOILER_PARA_TOKENS
ORACLE_BOILER = f"""
WITH toks AS ({_TOKS_GRID_SQL}),
ok AS (
  SELECT doc_id, ts FROM toks WHERE {_eligible("boiler")}
), paras AS (
  SELECT doc_id, i, array_to_string(ts[{_PARA}*i+1 : {_PARA}*i+{_PARA}], ' ') AS para
  FROM ok, UNNEST(generate_series(0, CAST(len(ts) // {_PARA} - 1 AS INT))) AS u(i)
), mt AS (
  SELECT doc_id,
         coalesce(string_agg(para, chr(10)||chr(10) ORDER BY i)
                    FILTER (WHERE length(para) >= {boilerplate.MIN_CHARS}), '') AS main_text
  FROM paras GROUP BY doc_id
), cells AS (
  SELECT doc_id, j, ts[2*j+1] || ',' || ts[2*j+2] AS line
  FROM ok, UNNEST(generate_series(0, {P.BOILER_TABLE_ROWS - 1})) AS u(j)
), tbl AS (
  SELECT doc_id,
         'c0,c1' || chr(13)||chr(10)
           || string_agg(line || chr(13)||chr(10), '' ORDER BY j) AS csv_text
  FROM cells GROUP BY doc_id
)
SELECT mt.doc_id,
       CAST({P.BOILER_TABLE_ROWS} AS INT) AS n_rows,
       CAST(2 AS INT) AS n_cols,
       md5(tbl.csv_text) AS csv_md5,
       md5(mt.main_text) AS text_md5
FROM mt JOIN tbl ON tbl.doc_id = mt.doc_id
"""


def q_extract_mixed_dispatch(spark, sf_dir):
    """Per-row layout dispatch: generic / financial / dynamic / professional
    pages of the doc_id % 7 == 0 sample, from one documents scan, through
    one extraction where each row carries its own layout."""
    docs = _docs(spark, sf_dir).where(F.pmod(F.col("doc_id"), F.lit(7)) == 0)
    return _extract_kinds(docs, ["doc", "fin", "dyn", "pro"]).select(
        "doc_id", "layout", "n_rows", "n_cols", "csv_md5"
    )


def _sampled(sql: str, where: str) -> str:
    # each family oracle reads `FROM documents` exactly once; inject the
    # sample the Spark query applies
    assert sql.count("FROM documents") == 1
    return sql.replace("FROM documents", f"FROM documents WHERE {where}")


def _tagged(col: str, branches) -> str:
    """The union of (oracle, tag) ``branches``, each row tagged in ``col``."""
    return " UNION ALL ".join(
        f"SELECT doc_id, '{tag}' AS {col}, n_rows, n_cols, csv_md5 FROM ({sql}) _{tag}"
        for sql, tag in branches
    )


def _oracle_mixed_dispatch() -> str:
    mod7 = "doc_id % 7 = 0"
    return _tagged("layout", [
        (_sampled(ORACLE_GRID4, mod7), "generic"),
        (_sampled(ORACLE_FIN_GRID, mod7), "financial"),
        (_sampled(ORACLE_DYN_GRID, mod7), "dynamic"),
        (_sampled(ORACLE_PRO_GRID, mod7), "professional"),
    ])


# hdr variant: header_regexes picks row 1 (ARGS_HDR_HEADER); body order is
# rows[:1] + rows[2:] (kernel/layouts.py detect_header_row) = title row first
ORACLE_ARGS_DISPATCH = _tagged("variant", [
    (_grid4_oracle("crop"), "crop"),
    (_rows_oracle(
        _eligible("hdr"), "len(ts) // 4", _GRID4_LINE, "total + 1",
        f"'{','.join(P.ARGS_HDR_HEADER)}' || {_CRLF} || '{','.join(P.ARGS_HDR_TITLE)}' || {_CRLF}"
        f" || body || {_CRLF}", 4,
    ), "hdr"),
    (_rows_oracle(
        _eligible("cols"), "len(ts) // 4",
        "ts[4*r+1] || ' ' || ts[4*r+2] || ' ' || ts[4*r+3] || ',' || ts[4*r+4]",
        "total - 1", f"body || {_CRLF}", 2,
    ), "cols"),
])


# ---------------------------------------------------------------------------
# Text pipeline queries (documents)
# ---------------------------------------------------------------------------

_TOKS_SQL = (
    "CASE WHEN trim(lower(text)) = '' THEN []::VARCHAR[] "
    "ELSE string_split_regex(trim(lower(text)), '\\s+') END"
)


def _md5_int_sql(expr: str, start: int, n_hex: int) -> str:
    """The integer of ``n_hex`` md5 hex chars of ``expr`` from ``start``
    (1-based): the DuckDB spelling of the engine's one hash spec."""
    return f"CAST('0x' || substr(md5({expr}), {start}, {n_hex}) AS BIGINT)"


def _uniform_sql(prefix: str) -> str:
    """u = md5_int(prefix || doc_id, 1, 8) / 2^32, one uniform draw per
    document (the samplers' rule)."""
    key = f"'{prefix}' || CAST(doc_id AS VARCHAR)"
    return f"{_md5_int_sql(key, 1, 8)} / 4294967296.0"


def _sf_scratch_dir(sf_dir: str, name: str) -> str:
    """``/tmp/ocrx_<name>_<sf basename>_<digest>``, keyed on the FULL path
    plus the documents parquet's identity (mtime/size): two corpora sharing
    a basename, or a corpus regenerated at the same path, never reuse a
    stale fixture or output (an oracle would then compare fresh md5s
    against old bytes)."""
    import hashlib
    import os

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    try:
        st = os.stat(os.path.join(sf_dir, "documents.parquet"))
        ident = f"{os.path.abspath(sf_dir)}:{st.st_mtime_ns}:{st.st_size}"
    except OSError:
        ident = os.path.abspath(sf_dir)
    return f"/tmp/ocrx_{name}_{tag}_{hashlib.md5(ident.encode()).hexdigest()[:10]}"


def _segments_fixture_dir(spark, sf_dir: str, name: str, write, body) -> str:
    """Synthesize (once per corpus, idempotent via the _COMPLETE marker)
    gzip-member segments from ``documents`` with ``write``: one record per
    document in doc_id order, url ``https://docs.example/<doc_id>``,
    payload ``body(text)``.  Writing the fixture from one process is
    bounded scaffolding; the reader under test is the scale path."""
    import os

    d = _sf_scratch_dir(sf_dir, name)
    if not os.path.exists(os.path.join(d, "_COMPLETE")):
        rows = _docs(spark, sf_dir).select("doc_id", "text").collect()
        write(
            (
                (r.doc_id, f"https://docs.example/{r.doc_id}", "2025-01-01T00:00:00Z", body(r.text))
                for r in sorted(rows, key=lambda r: r.doc_id)
            ),
            d,
        )
    return d


# per segment kind: (segment writer, reader, payload column, its length
# alias, a document's text as the record payload, the oracle's length of
# ``text``)
_ROUNDTRIPS = {
    "warc": (
        warc.write_warc_segments, warc.read_warc,
        "html", "n_bytes", lambda t: t.encode(), "octet_length(encode(text))",
    ),
    "wet": (
        warc.write_wet_segments, warc.read_wet, "text", "n_chars", lambda t: t, "length(text)",
    ),
}


def _roundtrip(kind: str):
    """The WARC or WET source end to end: gzip-member segments -> record
    splitter (length framing, header strip, request/warcinfo skip, payload
    decode) -> (url, payload), value-checked against the documents the
    segments were synthesized from."""
    write, read, col, len_alias, body, _ = _ROUNDTRIPS[kind]

    def q(spark, sf_dir):
        d = _segments_fixture_dir(spark, sf_dir, f"{kind}_fixture", write, body)
        pages = read(spark, d)
        return pages.where(F.col("error").isNull()).select(
            "url",
            F.md5(F.col(col)).alias(f"{col}_md5"),
            F.length(F.col(col)).cast("long").alias(len_alias),
        )

    return q


def _oracle_roundtrip(kind: str) -> str:
    _, _, col, len_alias, _, n_sql = _ROUNDTRIPS[kind]
    return f"""
SELECT 'https://docs.example/' || CAST(doc_id AS VARCHAR) AS url,
       md5(text) AS {col}_md5,
       CAST({n_sql} AS BIGINT) AS {len_alias}
FROM documents
"""


def q_giants_resume(spark, sf_dir):
    """The FULL batch-job body under the driver's oracle (r4 verdict #6):
    resume anti-join against a pre-populated progress table + the giants
    split (fanned out in the same write) + idempotent partitioned commit,
    end to end through ``jobs.extract_job.run_extract`` with real parquet
    writes.

    Deterministic setup so every piece is SQL-derivable:
      * progress is seeded with doc_id % 5 == 0 marked done (batch 1) —
        those pages must be ABSENT from the committed batch-2 output
        (anti-join honored);
      * giants are classified by a synthetic ``pad`` size column
        (9 chars iff doc_id % 11 == 0, threshold 5) — ``extract_pages``
        prunes it before the kernel, and the committed ``pass`` column
        records which branch extracted each page, so the small/giant
        routing is value-checked, not just plan-checked;
      * extraction itself is the grid4 generic pipeline, so n_rows/csv_md5
        reuse the same oracle algebra as ``extract_grid4``.

    Repeated invocations overwrite the same keyed scratch dir (seed reset
    + an overwrite of the whole ``batch_id=2`` directory, whatever layout
    left it), so a warm pass is a batch re-run: the same bytes, no duplicates.
    """
    from jobs.extract_job import run_extract

    root = _sf_scratch_dir(sf_dir, "giants_resume_v1")
    out, prog = f"{root}/extracted", f"{root}/progress"

    pages = pages_from_documents(_docs(spark, sf_dir), ["doc"]).withColumn(
        "pad",
        F.when(F.col("doc_id") % 11 == 0, F.lit("x" * 9)).otherwise(F.lit("")),
    )
    seed = pages.where(F.col("doc_id") % 5 == 0).select(
        "url",
        F.lit(1).alias("batch_id"),
        F.lit("done").alias("status"),
        F.lit(0).alias("n_rows"),
        F.lit(None).cast("string").alias("error"),
        F.current_timestamp().alias("ts"),
    )
    seed.write.mode("overwrite").parquet(prog)

    committed, _ = run_extract(
        spark,
        pages.select("url", "html", "pad"),
        out=out,
        progress_path=prog,
        batch_id=2,
        layout="generic",
        giant_threshold=5,
        size_col="pad",
    )
    return committed.select(
        F.split(F.col("url"), "://")[1].cast("long").alias("doc_id"),
        F.col("pass").cast("string").alias("pass"),
        "n_rows",
        "n_cols",
        F.md5(_strip_bom_text("csv")).alias("csv_md5"),
    )


# the grid4 oracle over the pages the progress seed leaves pending
ORACLE_GIANTS_RESUME = f"""
SELECT doc_id, CASE WHEN doc_id % 11 = 0 THEN 'giant' ELSE 'small' END AS "pass",
       n_rows, n_cols, csv_md5
FROM ({_sampled(ORACLE_GRID4, "doc_id % 5 <> 0")}) _g
"""


ORACLE_TOKEN_COUNT = f"SELECT doc_id, CAST(len({_TOKS_SQL}) AS INT) AS n_tokens FROM documents"


_BPE_SQL = textstats.BPE_TOKEN_RE.replace("'", "''")
ORACLE_TOKEN_COUNT_BPE = (
    "SELECT doc_id, CAST(len(regexp_extract_all(lower(text), "
    f"'{_BPE_SQL}')) AS INT) AS n_bpe_tokens FROM documents"
)


_EN = ",".join(f"'{w}'" for w in textstats.STOPWORDS["en"])

ORACLE_TEXT_QUALITY = f"""
WITH t AS (SELECT doc_id, text, {_TOKS_SQL} AS ts FROM documents)
SELECT doc_id,
  CAST(length(text) AS INT) AS n_chars_calc,
  CAST(len(ts) AS INT) AS n_tokens,
  round(CAST(list_sum(list_transform(ts, x -> length(x))) AS DOUBLE)
        / greatest(1, len(ts)), 5) AS avg_token_len,
  round(CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
        / greatest(1, length(text)), 5) AS punct_ratio,
  round(CAST(len(list_filter(ts, x -> x IN ({_EN}))) AS DOUBLE)
        / greatest(1, len(ts)), 5) AS stopword_ratio,
  round(least(1.0, CAST(len(ts) AS DOUBLE) / 50.0)
        - CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
          / greatest(1, length(text)), 5) AS quality_score
FROM t
"""


def _oracle_lang_id() -> str:
    hit = {
        lang: f"CAST(len(list_filter(ts, x -> x IN ({','.join(repr(w) for w in ws)}))) AS INT)"
        for lang, ws in textstats.STOPWORDS.items()
    }
    langs = list(textstats.STOPWORDS)
    case = "CASE "
    for lang in langs:
        others = ", ".join(hit[o] for o in langs if o != lang)
        case += f"WHEN {hit[lang]} > 0 AND {hit[lang]} > greatest({others}) THEN '{lang}' "
    case += "ELSE 'und' END"
    cols = ", ".join(f"{hit[l]} AS hits_{l}" for l in langs)
    return (
        f"WITH t AS (SELECT doc_id, {_TOKS_SQL} AS ts FROM documents) "
        f"SELECT doc_id, {cols}, "
        f"greatest({', '.join(hit[l] for l in langs)}) AS best_hits, "
        f"{case} AS lang_pred FROM t"
    )


_NORM_SQL = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
# NULL-text twin (bloom/incremental spec: NULL fingerprints as empty string)
_NORM_NN_SQL = "trim(regexp_replace(lower(coalesce(text, '')), '\\s+', ' ', 'g'))"
ORACLE_FINGERPRINT = f"SELECT doc_id, md5({_NORM_SQL}) AS fp FROM documents"


# deterministic synthetic PII appended per doc so the scrubber's counts and
# redaction are exercised on guaranteed-nonzero matches (the operator itself
# is generic); the SQL oracle doctors the text identically
_PII_SUFFIX_SPARK = lambda: F.concat(  # noqa: E731
    F.col("text"),
    F.lit(" contact user"),
    F.col("doc_id").cast("string"),
    F.lit("@example.com at 10.0.0."),
    F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
    F.lit(" tel +1 (555) 010-00"),
    F.pmod(F.col("doc_id"), F.lit(10)).cast("string"),
)


ORACLE_VOCAB_TOPK = f"""
WITH tok AS (
  SELECT doc_id, unnest(ts) AS token
  FROM (SELECT doc_id, {_TOKS_SQL} AS ts FROM documents) _t
)
SELECT token, count(*) AS tf, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
FROM tok GROUP BY 1
ORDER BY tf DESC, token ASC LIMIT {textstats.VOCAB_TOPK}
"""


def _oracle_search_topk() -> str:
    terms = ", ".join(f"'{t}'" for t in sorted(set(textstats.SEARCH_TERMS)))
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(ts) AS term
  FROM (SELECT doc_id, {_TOKS_SQL} AS ts FROM documents) _t
), m AS (
  SELECT doc_id, term FROM tok WHERE term IN ({terms})
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM m GROUP BY 1, 2
), df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM m GROUP BY 1
), j AS (
  SELECT tf.doc_id, tf.term,
         tf.tf * (CAST((SELECT count(*) + 1 FROM documents) AS DOUBLE) / (df.df + 1)) AS val
  FROM tf JOIN df USING (term)
), s AS (
  SELECT doc_id, count(*) AS n_hits,
         round(list_reduce(list(val ORDER BY term), (a, b) -> a + b), 5) AS score
  FROM j GROUP BY 1
)
SELECT doc_id, n_hits, score FROM s
ORDER BY score DESC, doc_id ASC LIMIT {textstats.SEARCH_TOPK}
"""


def q_pii_scrub(spark, sf_dir):
    docs = _docs_f(spark, sf_dir).select("doc_id", _PII_SUFFIX_SPARK().alias("text"))
    return textstats.pii_scrub(docs)


def _oracle_pii_scrub() -> str:
    email, ip, phone = (
        textstats.PII_EMAIL_RE,
        textstats.PII_IP_RE,
        textstats.PII_PHONE_RE,
    )
    return f"""
WITH t AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@example.com at 10.0.0.'
              || (doc_id % 256) || ' tel +1 (555) 010-00' || (doc_id % 10) AS text
  FROM documents
), s1 AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '{email}')) AS INT) AS n_emails,
         regexp_replace(text, '{email}', '<EMAIL>', 'g') AS t1
  FROM t
), s2 AS (
  SELECT doc_id, n_emails,
         CAST(len(regexp_extract_all(t1, '{ip}')) AS INT) AS n_ips,
         regexp_replace(t1, '{ip}', '<IP>', 'g') AS t2
  FROM s1
)
SELECT doc_id, n_emails, n_ips,
       CAST(len(regexp_extract_all(t2, '{phone}')) AS INT) AS n_phones,
       md5(regexp_replace(t2, '{phone}', '<PHONE>', 'g')) AS scrubbed_md5
FROM s2
"""


def _oracle_repetition() -> str:
    return f"""
WITH t AS (SELECT doc_id, {_TOKS_SQL} AS ts FROM documents),
tc AS (
  SELECT doc_id, max(c) AS top_tok, count(*) AS n_unique, sum(c) AS n_toks
  FROM (
    SELECT doc_id, tok, count(*) AS c
    FROM (SELECT doc_id, unnest(ts) AS tok FROM t) _e GROUP BY 1, 2
  ) _c GROUP BY 1
), bg AS (
  SELECT doc_id, max(c) AS top_bg
  FROM (
    SELECT doc_id, bgm, count(*) AS c
    FROM (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(ts) - 1),
                                   i -> ts[i] || '_' || ts[i + 1])) AS bgm
      FROM t WHERE len(ts) >= 2
    ) _g GROUP BY 1, 2
  ) _m GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(tc.n_toks, 0) AS INT) AS n_tokens,
       round(CASE WHEN coalesce(tc.n_toks, 0) > 0
                  THEN CAST(tc.top_tok AS DOUBLE) / tc.n_toks ELSE 0.0 END, 5)
         AS top_token_frac,
       round(CASE WHEN coalesce(tc.n_toks, 0) > 1
                  THEN CAST(coalesce(bg.top_bg, 0) AS DOUBLE) / (tc.n_toks - 1)
                  ELSE 0.0 END, 5) AS top_bigram_frac,
       round(CASE WHEN coalesce(tc.n_toks, 0) > 0
                  THEN CAST(tc.n_unique AS DOUBLE) / tc.n_toks ELSE 0.0 END, 5)
         AS unique_token_frac
FROM documents d
LEFT JOIN tc ON tc.doc_id = d.doc_id
LEFT JOIN bg ON bg.doc_id = d.doc_id
"""


ORACLE_SOURCE_STATS = f"""
WITH t AS (SELECT source, text, {_TOKS_SQL} AS ts FROM documents),
q AS (
  SELECT source,
         CAST(len(ts) AS INT) AS n_tokens,
         CAST(length(text) AS INT) AS n_chars,
         round(least(1.0, CAST(len(ts) AS DOUBLE) / 50.0)
               - CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
                 / greatest(1, length(text)), 5) AS qs
  FROM t
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       min(qs) AS min_quality,
       max(qs) AS max_quality
FROM q GROUP BY 1
"""


_MIX_WEIGHTS, _MIX_BUDGET = textstats.MIX_WEIGHTS, textstats.MIX_BUDGET


def _mix_w_case() -> str:
    return "CASE source " + " ".join(
        f"WHEN '{s}' THEN {w}" for s, w in sorted(_MIX_WEIGHTS.items())
    ) + " ELSE 0.0 END"


def _oracle_mix_plan() -> str:
    w_case = _mix_w_case()
    wk_vals = ", ".join(f"('{s}')" for s in sorted(_MIX_WEIGHTS))
    return f"""
WITH t AS (
  SELECT source, CAST(len({_TOKS_SQL}) AS INT) AS n FROM documents
), per0 AS (
  SELECT source, CAST(sum(n) AS BIGINT) AS available_tokens
  FROM t GROUP BY source
), wk AS (
  SELECT * FROM (VALUES {wk_vals}) w(source)
), per AS (
  SELECT coalesce(per0.source, wk.source) AS source,
         coalesce(available_tokens, CAST(0 AS BIGINT)) AS available_tokens
  FROM per0 FULL OUTER JOIN wk ON per0.source = wk.source
)
SELECT source, available_tokens,
       round(CAST({w_case} AS DOUBLE), 6) AS weight,
       round(CAST({_MIX_BUDGET} AS DOUBLE) * ({w_case}), 2) AS target_tokens,
       CASE WHEN available_tokens > 0
            THEN round(least(1.0, CAST({_MIX_BUDGET} AS DOUBLE) * ({w_case})
                             / available_tokens), 6)
            ELSE 0.0 END AS sample_rate,
       CASE WHEN available_tokens > 0
            THEN round(CAST({_MIX_BUDGET} AS DOUBLE) * ({w_case})
                       / available_tokens, 6)
            ELSE NULL END AS epochs
FROM per
ORDER BY source
"""


def _oracle_mix_sample() -> str:
    w_case = _mix_w_case()
    return f"""
WITH t AS (
  SELECT doc_id, source, CAST(len({_TOKS_SQL}) AS INT) AS n FROM documents
), per AS (
  SELECT source, CAST(sum(n) AS BIGINT) AS available_tokens
  FROM t GROUP BY source
), plan AS (
  SELECT source,
         CASE WHEN available_tokens > 0
              THEN round(CAST({_MIX_BUDGET} AS DOUBLE) * ({w_case})
                         / available_tokens, 6)
              ELSE NULL END AS epochs
  FROM per
), d AS (
  SELECT doc_id, source, n AS n_tokens,
         {_uniform_sql("mix:")} AS u
  FROM t
), c AS (
  SELECT d.doc_id, d.source, d.n_tokens,
         CAST(floor(p.epochs)
              + CASE WHEN d.u < p.epochs - floor(p.epochs) THEN 1 ELSE 0 END
              AS INT) AS n_copies
  FROM d JOIN plan p USING (source)
  WHERE p.epochs IS NOT NULL
)
SELECT doc_id, source, n_tokens,
       CAST(unnest(generate_series(1, n_copies)) AS INT) AS copy
FROM c WHERE n_copies >= 1
ORDER BY doc_id, copy
"""


def _oracle_decontaminate() -> str:
    threshold = curation.DECONTAMINATE_THRESHOLD
    return f"""
WITH sh AS MATERIALIZED (
  SELECT * FROM ({_SHINGLES_SQL}) s WHERE shingle <> ''
), ev AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % {curation.DECONTAMINATE_EVAL_MOD} = 0
), sizes AS (
  SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY 1
), ov AS (
  SELECT sh.doc_id, count(*) AS n_overlap FROM sh JOIN ev USING (shingle) GROUP BY 1
)
SELECT sizes.doc_id, sizes.n_shingles,
       coalesce(ov.n_overlap, 0) AS n_overlap,
       round(CAST(coalesce(ov.n_overlap, 0) AS DOUBLE) / sizes.n_shingles, 5)
         AS overlap_ratio,
       (CAST(coalesce(ov.n_overlap, 0) AS DOUBLE) / sizes.n_shingles) >= {threshold}
         AS contaminated
FROM sizes LEFT JOIN ov ON ov.doc_id = sizes.doc_id
"""


_BUDGET, _SHARDS = curation.PACK_BUDGET, curation.PACK_SHARDS
ORACLE_PACK_SEQUENCES = f"""
WITH t AS (
  SELECT doc_id,
         CAST(doc_id % {_SHARDS} AS INT) AS shard,
         CAST(len({_TOKS_SQL}) AS INT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, shard, n_tokens,
         sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
)
SELECT doc_id, shard, n_tokens,
       CAST((cum - n_tokens) // {_BUDGET} AS BIGINT) AS bin_id,
       CAST((cum - n_tokens) % {_BUDGET} AS INT) AS offset_in_bin
FROM c
"""


_RATES = " ".join(f"WHEN lang = '{s}' THEN {r}" for s, r in sorted(curation.SAMPLE_RATES.items()))
ORACLE_SAMPLE_STRATIFIED = f"""
WITH t AS (
  SELECT doc_id, lang AS stratum,
         {_uniform_sql("sample:")} AS u,
         CASE {_RATES}
              ELSE {curation.SAMPLE_DEFAULT_RATE} END AS r
  FROM documents
)
SELECT doc_id, stratum, round(u, 6) AS u FROM t WHERE u < r
"""


# ---------------------------------------------------------------------------
# Dedup queries
# ---------------------------------------------------------------------------


def _oracle_gated(keepers: str) -> str:
    """The curation gates as CTEs: ``t``/``q``/``lang`` score every document,
    the caller's ``keepers`` CTEs end in ``keepers(doc_id)``, and ``gated``
    holds the keepers that pass the quality and lang gates.  The caller
    appends more CTEs or its final SELECT."""
    min_q = curation.DEFAULT_MIN_QUALITY
    langs = ", ".join(f"'{l}'" for l in curation.DEFAULT_LANGS)
    return f"""
WITH t AS (SELECT doc_id, text, {_TOKS_SQL} AS ts FROM documents),
q AS (
  SELECT doc_id,
         CAST(len(ts) AS INT) AS n_tokens,
         round(least(1.0, CAST(len(ts) AS DOUBLE) / 50.0)
               - CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
                 / greatest(1, length(text)), 5) AS quality_score
  FROM t
), lang AS ({_oracle_lang_id()}),
{keepers},
gated AS (
  SELECT q.doc_id, q.n_tokens, q.quality_score, lang.lang_pred
  FROM q
  JOIN lang ON lang.doc_id = q.doc_id
  JOIN keepers ON keepers.doc_id = q.doc_id
  WHERE q.quality_score >= {min_q} AND lang.lang_pred IN ({langs})
)"""


def _oracle_curate() -> str:
    return _oracle_gated(f"""keepers AS (
  SELECT min(doc_id) AS doc_id
  FROM (SELECT doc_id, md5({_NORM_SQL}) AS fp FROM documents) _f GROUP BY fp
)""") + "\nSELECT * FROM gated\n"


def _oracle_curate_neardup() -> str:
    return _oracle_gated(f"""cc AS MATERIALIZED ({_oracle_dedup_clusters()}),
keepers AS (SELECT doc_id FROM cc WHERE is_keeper)""") + "\nSELECT * FROM gated\n"


def _oracle_pipeline_full() -> str:
    return _oracle_gated(f"""deco AS MATERIALIZED ({_oracle_decontaminate()}),
cc AS MATERIALIZED ({_oracle_dedup_clusters()}),
keepers AS (
  SELECT cc.doc_id FROM cc
  JOIN deco ON deco.doc_id = cc.doc_id AND NOT deco.contaminated
  WHERE cc.is_keeper
)""") + f""", c AS (
  SELECT *, CAST(doc_id % {_SHARDS} AS INT) AS shard,
         sum(n_tokens) OVER (PARTITION BY doc_id % {_SHARDS} ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM gated
)
SELECT doc_id, n_tokens, quality_score, lang_pred, shard,
       CAST((cum - n_tokens) // {_BUDGET} AS BIGINT) AS bin_id,
       CAST((cum - n_tokens) % {_BUDGET} AS INT) AS offset_in_bin
FROM c
"""


def q_pipeline_full_v2(spark, sf_dir):
    """``pipeline_full`` with canonical-URL dedup wired in as pass 0 (r4
    verdict stretch #8): the cheapest pass runs FIRST over synthesized
    noisy URLs, and every content pass (gates, decontaminate, near-dup
    keepers, packing) runs over the URL-deduped corpus — sequential
    semantics, exactly as a staged production pipeline.  Still zero extra
    corpus scans: pass 0 derives from the same shared projection
    (plan-pinned in tests)."""
    return curation.curate_pipeline(
        weburl.with_synth_url(_docs_f(spark, sf_dir)), url_col="url",
        scope=_scope(spark, "pipeline_full_v2"),
    )


def _oracle_pipeline_over(source: str, prefix: str) -> str:
    """``pipeline_full``'s oracle re-pointed at the corpus ``source``: every
    ``FROM documents`` in the composed body is rewritten to read ``source``,
    which the ``prefix`` CTEs define ahead of the body.  Eval-set slices,
    LSH signatures and CC labels are thereby all re-derived over that
    corpus, the same sequential semantics as the Spark side."""
    body = _oracle_pipeline_full().replace(
        "FROM documents", f"FROM {source}"
    ).strip()
    assert body.startswith("WITH ")
    return f"""
WITH {prefix},
{body[len("WITH "):]}
"""


def _oracle_pipeline_v2() -> str:
    """Pass-0 URL keepers (canon chain + min-doc_id election + keyless
    passthrough) as ``docs_v2``, feeding the unchanged pipeline algebra."""
    return _oracle_pipeline_over("docs_v2", f"""{_URL_CANON_CTES},
ukeyed AS (
  SELECT min(doc_id) AS doc_id FROM canon
  WHERE canon_url IS NOT NULL AND canon_url <> ''
  GROUP BY canon_url
), ukeyless AS (
  SELECT doc_id FROM canon WHERE canon_url IS NULL OR canon_url = ''
), ukeep AS (
  SELECT doc_id FROM ukeyed UNION ALL SELECT doc_id FROM ukeyless
), docs_v2 AS MATERIALIZED (
  SELECT d.* FROM documents d JOIN ukeep USING (doc_id)
)""")


def _oracle_pipeline_v3() -> str:
    """The line_dedup_clean oracle as ``docs_v3(doc_id, text)``, feeding the
    unchanged pipeline algebra over post-clean text."""
    return _oracle_pipeline_over("docs_v3", f"""docs_v3 AS MATERIALIZED (
  SELECT doc_id, text_clean AS text FROM ({ORACLE_LINE_DEDUP_CLEAN}) _clean
)""")


ORACLE_DEDUP_EXACT = (
    f"SELECT md5({_NORM_SQL}) AS fp, count(*) AS n_docs, min(doc_id) AS keeper_id "
    "FROM documents GROUP BY 1"
)

_SHINGLE = " || '_' || ".join(f"ts[i+{j}]" if j else "ts[i]" for j in range(dedup.SHINGLE_N))
_SHINGLES_SQL = f"""
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(ts) >= {dedup.SHINGLE_N}
         THEN list_transform(generate_series(1, len(ts) - {dedup.SHINGLE_N - 1}),
              i -> {_SHINGLE})
         ELSE [list_aggregate(ts, 'string_agg', '_')] END)) AS shingle
  FROM (SELECT doc_id, {_TOKS_SQL} AS ts FROM documents) _t
"""


ORACLE_NGRAM_JACCARD = f"""
WITH sh AS (
  SELECT * FROM ({_SHINGLES_SQL}) s
  WHERE doc_id % {dedup.JACCARD_SAMPLE_MOD} = 0 AND shingle <> ''
), sizes AS (
  SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 5) AS jaccard
FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
"""


def q_bloom_dedup(spark, sf_dir):
    """Bloom-prefiltered incremental exact-dedup of a 'new crawl drop'
    against the 'seen corpus': seen = doc_id % 3 != 0; new = doc_id % 3
    == 0, half of them (even doc_id) carrying the TEXT of their doc_id+1
    neighbor (always a seen doc) so true dups exist by construction.
    Statuses {'new','dup','false_positive'} are all derivable — the
    oracle computes the identical md5 bit positions, and set-membership
    in SQL equals the bitmap test, false positives included."""
    docs = _docs(spark, sf_dir)
    donor = docs.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("text").alias("_donor")
    )
    seen = docs.where(F.col("doc_id") % 3 != 0).select("doc_id", "text")
    new = (
        docs.where(F.col("doc_id") % 3 == 0)
        .join(donor, "doc_id", "left")
        .select(
            "doc_id",
            F.when(
                (F.col("doc_id") % 2 == 0) & F.col("_donor").isNotNull(),
                F.col("_donor"),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    return dedup.bloom_dedup(seen, new)


def _oracle_bloom_dedup() -> str:
    m, k = dedup.BLOOM_M_BITS, dedup.BLOOM_K

    def pos(i: int) -> str:
        key = f"fp || ':{i}'"
        return f"{_md5_int_sql(key, 1, 5)} % {m}"

    pcols = ", ".join(f"{pos(i)} AS p{i}" for i in range(k))
    seen_pos_union = " UNION ALL ".join(
        f"SELECT {pos(i)} AS pos FROM sfp" for i in range(k)
    )
    maybe = " AND ".join(f"p{i} IN (SELECT pos FROM seen_pos)" for i in range(k))
    return f"""
WITH seen AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0
), newb AS (
  SELECT d.doc_id,
         CASE WHEN d.doc_id % 2 = 0 AND n.text IS NOT NULL THEN n.text
              ELSE d.text END AS text
  FROM documents d LEFT JOIN documents n ON n.doc_id = d.doc_id + 1
  WHERE d.doc_id % 3 = 0
), sfp AS (
  SELECT DISTINCT md5({_NORM_NN_SQL}) AS fp FROM seen
), seen_pos AS (
  SELECT DISTINCT pos FROM ({seen_pos_union}) _u
), nf AS (
  SELECT doc_id, fp, {pcols}
  FROM (SELECT doc_id, md5({_NORM_NN_SQL}) AS fp FROM newb) _n
)
SELECT doc_id,
       CASE WHEN NOT ({maybe}) THEN 'new'
            WHEN fp IN (SELECT fp FROM sfp) THEN 'dup'
            ELSE 'false_positive' END AS status
FROM nf
ORDER BY doc_id
"""


def _capped_sql(cols: str, keys: str, src: str, max_bucket: int) -> str:
    """The dedup.cap_hot_buckets twin: ``cols`` of the ``src`` rows whose
    ``keys`` bucket holds at most ``max_bucket`` rows."""
    return f"""SELECT {cols} FROM (
    SELECT *, count(*) OVER (PARTITION BY {keys}) AS bsz FROM {src}
  ) _c WHERE bsz <= {max_bucket}"""


def _minhash_bands0_ctes() -> str:
    """Shared DuckDB CTEs (sh, sig, bands0) twinning dedup.lsh_bands — the
    uncapped (doc_id, band, bkey) list reused by the pair oracle AND the
    bucket-stats oracle."""
    xs = dedup._xor_constants(dedup.N_MINHASH)
    mins = ", ".join(f"min(xor(h0, {x})) AS m{i}" for i, x in enumerate(xs))
    n_bands = dedup.N_MINHASH // dedup.BAND_SIZE
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({key}) AS bkey FROM sig".format(
            b=b,
            key=" || ',' || ".join(
                f"CAST(m{b * dedup.BAND_SIZE + j} AS VARCHAR)" for j in range(dedup.BAND_SIZE)
            ),
        )
        for b in range(n_bands)
    )
    return f"""sh AS (
  SELECT * FROM ({_SHINGLES_SQL}) s WHERE shingle <> ''
), sig AS (
  SELECT doc_id, {mins}
  FROM (SELECT doc_id, {_md5_int_sql("shingle", 1, 15)} AS h0 FROM sh) _h
  GROUP BY doc_id
), bands0 AS ({band_selects})"""


def _oracle_minhash_lsh() -> str:
    return f"""
WITH {_minhash_bands0_ctes()},
bands AS (
  {_capped_sql("doc_id, band, bkey", "band, bkey", "bands0", dedup.MAX_BUCKET)}
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
"""


ORACLE_MINHASH_LSH = _oracle_minhash_lsh()


def _bucket_stats_sql(bands_ctes: str, max_bucket: int) -> str:
    """The dedup.bucket_stats twin over the ``bands0`` CTE of ``bands_ctes``."""
    return f"""
WITH {bands_ctes},
per_bucket AS (
  SELECT band, bkey, count(*) AS bsz FROM bands0 GROUP BY 1, 2
)
SELECT band,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(bsz) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN bsz > {max_bucket} THEN 1 ELSE 0 END) AS BIGINT) AS n_hot_buckets,
       CAST(sum(CASE WHEN bsz > {max_bucket} THEN bsz ELSE 0 END) AS BIGINT) AS n_docs_in_hot
FROM per_bucket GROUP BY band
"""


ORACLE_LSH_BUCKET_STATS = _bucket_stats_sql(_minhash_bands0_ctes(), dedup.MAX_BUCKET)


# Unroll depth of the connected-components oracle: SQL has no loop, so the
# oracle runs a fixed number of min-label rounds where the Spark side
# iterates to convergence (capped by dedup.CC_MAX_ITER).  Exact while every
# component's diameter is <= the depth (sf graphs converge in 2-3), and the
# oracle checks that itself.
_CC_UNROLL = 12


def _oracle_dedup_clusters() -> str:
    """Min-label propagation unrolled ``_CC_UNROLL`` times in SQL (Spark-side
    convergence is checked, not assumed, so a mismatch would surface as a
    driver red, not silence)."""
    iters = _CC_UNROLL
    # AS MATERIALIZED everywhere: DuckDB inlines plain CTEs, which would
    # re-evaluate the whole LSH pipeline once per reference — exponential
    # across the unrolled iterations
    body = ""
    for i in range(1, iters + 1):
        body += f""",
l{i} AS MATERIALIZED (
  SELECT l.node, least(l.label, coalesce(min(r.label), l.label)) AS label
  FROM l{i - 1} l
  LEFT JOIN edges e ON e.src = l.node
  LEFT JOIN l{i - 1} r ON r.node = e.dst
  GROUP BY l.node, l.label
)"""
    return f"""
WITH pr AS MATERIALIZED ({ORACLE_MINHASH_LSH}),
edges AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM pr
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pr
),
l0 AS MATERIALIZED (SELECT doc_id AS node, doc_id AS label FROM documents){body},
chk AS MATERIALIZED (
  -- self-validation: if the last two unrolled iterations still differ, the
  -- component diameter exceeded the unroll depth and the ORACLE (not the
  -- engine) is wrong -> fail loudly instead of reporting a false mismatch
  SELECT CASE WHEN EXISTS (
           SELECT 1 FROM l{iters} a JOIN l{iters - 1} b ON b.node = a.node
           WHERE a.label <> b.label)
         THEN error('dedup_clusters oracle: {iters} unrolled iterations did not converge - raise iters')
         ELSE 1 END AS ok
)
SELECT node AS doc_id, label AS cluster_id, node = label AS is_keeper
FROM l{iters}, chk
"""


def q_simhash64(spark, sf_dir):
    """64-bit SimHash (16-bit pigeonhole band keys).  Bit 63 lands on the
    BIGINT sign bit; signed two's complement agrees between Spark LONG and
    DuckDB BIGINT, so the oracle is still bit-exact."""
    return dedup.simhash(_docs_f(spark, sf_dir)).withColumnRenamed(
        "simhash", "simhash64"
    )


def _oracle_simhash_hash(alias: str = "simhash") -> str:
    """DuckDB twin of dedup.simhash.  Token bits: lo = md5 hex chars 1-8,
    hi = chars 9-16; bit 63's weight is the literal -2^63 (HUGEINT-summed,
    cast back to BIGINT — total always in signed-64 range)."""
    bit_src = "(CASE WHEN bit < 32 THEN lo >> bit ELSE hi >> (bit - 32) END)"
    weight = (
        "(CASE WHEN bit = 63 THEN (-9223372036854775807 - 1)::HUGEINT"
        " ELSE (1::BIGINT << bit)::HUGEINT END)"
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(ts) AS tok
  FROM (SELECT doc_id, {_TOKS_SQL} AS ts FROM documents) _t
), h AS (
  SELECT doc_id, {_md5_int_sql("tok", 1, 8)} AS lo,
                 {_md5_int_sql("tok", 9, 8)} AS hi
  FROM toks
), per_bit AS (
  SELECT doc_id, bit,
         sum(CASE WHEN {bit_src} & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM h, UNNEST(generate_series(0, {dedup.SIMHASH_BITS - 1})) AS u(bit)
  GROUP BY 1, 2
)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN {weight} ELSE 0 END) AS BIGINT) AS {alias}
FROM per_bit GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Similarity queries (embeddings)
# ---------------------------------------------------------------------------


_K, _QMOD, _ROUND = similarity.TOPK, similarity.QUERY_MOD, similarity.SIM_ROUND
# the sf embeddings' width: the Spark sketch reads it from the first vector,
# the oracle bakes that many plane weights into its SQL
_SF_EMBED_DIM = 64
# the int8 code range, derived from QUANT_BITS as in similarity._quantized_codes_frame
_QMAX = float((1 << (similarity.QUANT_BITS - 1)) - 1)

# DuckDB twins of similarity's shared pieces: the float vectors, the nonzero
# vectors with their norms (``_vectors``), the exact cosine of two rows of n
# (``_cos``; list_sum == Spark's left fold), the candidate fetch and re-rank
# (``_fetch``, ``_rerank``), and the exact integer dot and norm (``_int_dot``)
_BASE_CTE = """base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
)"""
_N_CTE = """n AS (
  SELECT vec_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm FROM base
  WHERE nrm > 0
)"""
_CAND_PAIRS = "cand JOIN n q ON q.vec_id = cand.query_id JOIN n c ON c.vec_id = cand.vec_id"
_INT_DOT = (
    "CAST(list_reduce(list_transform(generate_series(1, len({q})), "
    "j -> {q}[j] * {c}[j]), (a, b) -> a + b) AS DOUBLE)"
)
_INT_NRM = "sqrt(CAST(list_reduce(list_transform({v}, x -> x * x), (a, b) -> a + b) AS DOUBLE))"


def _cos_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, len({a}.e)), i -> {a}.e[i] * {b}.e[i]))\n"
        f"           / ({a}.nrm * {b}.nrm)"
    )


def _topk_sql(pairs: str) -> str:
    """The tail of every top-k oracle: the cosine of each query row ``q`` x
    candidate row ``c`` of n that the FROM clause ``pairs`` joins, then the
    first ``TOPK`` per query by cos DESC, neighbor_id ASC, rounded."""
    return f"""sims AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_cos_sql("q", "c")} AS cos
  FROM {pairs}
), ranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM sims
)
SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id,
       round(cos, {_ROUND}) AS cos_sim
FROM ranked WHERE rank <= {_K}
"""


ORACLE_SIMILARITY_TOPK = f"""
WITH {_BASE_CTE}, {_N_CTE},
{_topk_sql(f"n q JOIN n c ON c.vec_id <> q.vec_id WHERE q.vec_id % {_QMOD} = 0")}"""


def _sketch_ctes() -> str:
    """Shared DuckDB CTEs (base, planes, sk, bands) twinning
    multi_table_sketch: the hyperplane weights are the SAME
    driver-precomputed literals (similarity.plane_weights), typed once per
    plane in the one-row ``planes`` CTE (a cast inside the lambda would be
    rebuilt per element) and folded left-to-right via list_reduce so the
    sign bits match Spark's sequential double fold exactly."""
    n_tables, n_planes, dim = similarity.LSH_TABLES, similarity.LSH_PLANES, _SF_EMBED_DIM
    planes = ",\n         ".join(
        "[" + ",".join(repr(x) for x in similarity.plane_weights(t * 1000 + p, dim))
        + f"]::DOUBLE[] AS w{t}_{p}"
        for t in range(n_tables)
        for p in range(n_planes)
    )
    bucket_cols = [
        "(" + " + ".join(
            f"CASE WHEN list_reduce(list_transform(generate_series(1, {dim}), "
            f"i -> e[i] * w{t}_{p}[i]), (a, b) -> a + b) > 0 THEN {1 << p} ELSE 0 END"
            for p in range(n_planes)
        ) + f") AS b{t}"
        for t in range(n_tables)
    ]
    band_union = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS tbl, b{t} AS bucket FROM sk" for t in range(n_tables)
    )
    return f"""
{_BASE_CTE}, planes AS (
  SELECT {planes}
), sk AS (
  SELECT vec_id, {", ".join(bucket_cols)} FROM base, planes
), bands AS ({band_union})"""


# DuckDB twin of lsh_topk: shared sketch CTEs + candidates, cosine re-rank,
# and top-k in plain SQL
ORACLE_SIMILARITY_LSH = f"""
WITH {_sketch_ctes()},
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id
  FROM bands q JOIN bands c
    ON c.tbl = q.tbl AND c.bucket = q.bucket AND c.vec_id <> q.vec_id
  WHERE q.vec_id % {_QMOD} = 0
), {_N_CTE},
{_topk_sql(_CAND_PAIRS)}"""


IVF_Q8_REFINE = 4


def _q8_shortlist_ctes(refine_q8: int | None) -> str:
    """cand CTE for the IVF oracle: identity passthrough, or the int8-code
    shortlist (top k*refine per query by quantized cosine, ties ->
    vec_id ASC) mirroring similarity._q8_norm_frame + the refine window."""
    if refine_q8 is None:
        return "cand AS (SELECT * FROM cand0)"
    return f"""q8 AS (
  SELECT vec_id,
         list_transform(e, x -> CAST(floor(x / sc + 0.5) AS BIGINT)) AS q8
  FROM (SELECT vec_id, e,
               list_max(list_transform(e, y -> abs(y))) / {_QMAX} AS sc
        FROM base) _q
  WHERE sc > 0
), q8n AS (
  SELECT vec_id, q8, {_INT_NRM.format(v="q8")} AS n8 FROM q8
), cand AS (
  SELECT query_id, vec_id FROM (
    SELECT cand0.query_id, cand0.vec_id,
           row_number() OVER (PARTITION BY cand0.query_id ORDER BY
             {_INT_DOT.format(q="qc.q8", c="cc.q8")} / (qc.n8 * cc.n8) DESC,
             cand0.vec_id ASC) AS r
    FROM cand0
    JOIN q8n qc ON qc.vec_id = cand0.query_id
    JOIN q8n cc ON cc.vec_id = cand0.vec_id
  ) _sh WHERE r <= {_K * refine_q8}
)"""


def _ivf_cent_assign_ctes() -> str:
    """Shared CTE prefix for every trained-quantizer oracle
    (``similarity_ivf``, ``similarity_ivf_q``, ``semdedup``): re-runs the
    SAME integer Lloyd training unrolled ``IVF_TRAIN_ITERS`` times in SQL and
    ends with ``assign`` = (vec_id, cid) for EVERY vector.  Because
    quantization (floor), the per-cluster sum vectors (order-independent
    BIGINT sums), and the argmax scores (exact-int dot /
    sqrt-of-exact-int) are all bit-exact in both engines, centroids and
    every assignment decision match the Spark side exactly; ties break
    (score DESC, cid ASC) = Spark's array_position-first-max."""
    n_iter = similarity.IVF_TRAIN_ITERS
    train = ""
    for i in range(1, n_iter + 1):
        score = _INT_DOT.format(q="s.q", c="c.s") + " / " + _INT_NRM.format(v="c.s")
        train += f""",
a{i} AS MATERIALIZED (
  SELECT vec_id, cid FROM (
    SELECT s.vec_id, c.cid,
           row_number() OVER (PARTITION BY s.vec_id
                              ORDER BY {score} DESC, c.cid ASC) AS r
    FROM samp s CROSS JOIN c{i - 1} c
  ) _a WHERE r = 1
),
e{i} AS (
  SELECT a.cid,
         UNNEST(list_transform(generate_series(1, len(s.q)),
                               j -> {{'p': j, 'v': s.q[j]}}), recursive := true)
  FROM a{i} a JOIN samp s USING (vec_id)
),
u{i} AS (
  SELECT cid, list(CAST(sv AS BIGINT) ORDER BY p) AS s
  FROM (SELECT cid, p, sum(v) AS sv FROM e{i} GROUP BY 1, 2) _s
  GROUP BY cid
),
c{i} AS MATERIALIZED (
  SELECT c.cid, coalesce(u.s, c.s) AS s FROM c{i - 1} c LEFT JOIN u{i} u USING (cid)
)"""
    assign_score = _INT_DOT.format(q="v.q", c="c.s") + " / c.s_nrm"
    return f"""{_BASE_CTE}, qv AS (
  SELECT vec_id,
         list_transform(e, x -> CAST(floor(x * {float(similarity.IVF_QUANT_SCALE)} + 0.5) AS BIGINT)) AS q
  FROM base
), samp AS MATERIALIZED (
  -- bounded sample: hash-ordered LIMIT keeps the driver collect O(max_train)
  -- whatever the corpus size (mirrors similarity._collect_train_sample)
  SELECT vec_id, q FROM qv
  WHERE vec_id % {similarity.IVF_SAMPLE_MOD} = 0 AND len(list_filter(q, x -> x <> 0)) > 0
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {similarity.IVF_MAX_TRAIN}
), c0 AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, q AS s
  FROM (SELECT * FROM samp ORDER BY vec_id LIMIT {similarity.IVF_CENTROIDS}) _i
){train},
cent AS MATERIALIZED (
  SELECT cid, s,
         {_INT_NRM.format(v="s")} AS s_nrm
  FROM c{n_iter}
), assign AS (
  SELECT vec_id, cid FROM (
    SELECT v.vec_id, c.cid,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY {assign_score} DESC, c.cid ASC) AS r
    FROM qv v CROSS JOIN cent c
  ) _a WHERE r = 1
)"""


def _oracle_similarity_ivf(refine_q8: int | None = None) -> str:
    """DuckDB twin of ivf_topk over the shared trained-quantizer prefix
    (``_ivf_cent_assign_ctes``).  With ``refine_q8`` set, the int8-code
    shortlist (codes = floor(x / (max|x|/_QMAX) + 0.5) — every arithmetic
    step cross-engine exact, so the shortlist cutoff replays identically)
    is inserted between candidates and the float re-rank."""
    probe_score = _INT_DOT.format(q="qq.qq", c="c.s") + " / c.s_nrm"
    return f"""
WITH {_ivf_cent_assign_ctes()}, {_N_CTE}, qq AS (
  SELECT vec_id AS query_id, q AS qq FROM n JOIN qv USING (vec_id)
  WHERE vec_id % {_QMOD} = 0
), probes AS (
  SELECT query_id, cid FROM (
    SELECT qq.query_id, c.cid,
           row_number() OVER (PARTITION BY qq.query_id
                              ORDER BY {probe_score} DESC, c.cid ASC) AS r
    FROM qq CROSS JOIN cent c
  ) _p WHERE r <= {similarity.IVF_PROBES}
), cand0 AS (
  SELECT DISTINCT p.query_id, a.vec_id
  FROM probes p JOIN assign a ON a.cid = p.cid
  WHERE a.vec_id <> p.query_id
), {_q8_shortlist_ctes(refine_q8)},
{_topk_sql(_CAND_PAIRS)}"""


# DuckDB twin of cluster_stats over the shared trained-quantizer prefix:
# identical centroids and assignments, then the same integer share
# arithmetic (`//` == Spark `div` on non-negative operands)
ORACLE_CLUSTER_STATS = f"""
WITH {_ivf_cent_assign_ctes()},
t AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM assign),
g AS (
  SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs FROM assign GROUP BY cid
)
SELECT CAST(cid AS INT) AS cid, n_vecs,
  CAST(n_vecs * 1000000 // (SELECT tot FROM t) AS BIGINT) AS share_ppm
FROM g ORDER BY cid
"""


# DuckDB twin of semdedup over the shared trained-quantizer prefix: same
# centroids, same assignment, then the NOT-EXISTS keeper rule on exact float
# cosine (list_sum dot == Spark's left fold, the dedup_embedding-proven parity)
ORACLE_SEMDEDUP = f"""
WITH {_ivf_cent_assign_ctes()}, {_N_CTE}, m AS MATERIALIZED (
  SELECT a.vec_id, a.cid, n.e, n.nrm
  FROM assign a JOIN n ON n.vec_id = a.vec_id
), dups AS (
  SELECT DISTINCT b.vec_id
  FROM m a JOIN m b ON b.cid = a.cid AND a.vec_id < b.vec_id
  WHERE {_cos_sql("a", "b")} >= {similarity.COS_DUP_THRESHOLD}
)
SELECT m.vec_id, CAST(m.cid AS INT) AS cid,
       (d.vec_id IS NULL) AS is_keeper
FROM m LEFT JOIN dups d ON d.vec_id = m.vec_id
ORDER BY m.vec_id
"""


def _simhash_bands_ctes() -> str:
    """CTEs sh + bands0: the simhash and its pigeonhole bands.  bkey =
    (simhash >> band_bits*b) & mask — the post-shift mask makes the key
    independent of arithmetic-vs-logical shift semantics (matters for the
    64-bit sign bit; both engines are arithmetic anyway)."""
    n_bands = dedup.SIMHASH_MAX_HAMMING + 1
    band_bits = dedup.SIMHASH_BITS // n_bands
    mask = (1 << band_bits) - 1
    return f"""sh AS MATERIALIZED ({_oracle_simhash_hash()}),
bands0 AS (
  SELECT doc_id, simhash, b AS band,
         (simhash >> ({band_bits} * b)) & {mask} AS bkey
  FROM sh, UNNEST(generate_series(0, {n_bands - 1})) AS u(b)
)"""


def _oracle_simhash_pairs() -> str:
    return f"""
WITH {_simhash_bands_ctes()},
bands AS (
  {_capped_sql("doc_id, simhash, band, bkey", "band, bkey", "bands0", dedup.SIMHASH_MAX_BUCKET)}
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.simhash AS h_a, b.simhash AS h_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(h_a, h_b)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(h_a, h_b)) <= {dedup.SIMHASH_MAX_HAMMING}
"""


ORACLE_SIMHASH_BUCKET_STATS = _bucket_stats_sql(_simhash_bands_ctes(), dedup.SIMHASH_MAX_BUCKET)


def q_embedding_quantize(spark, sf_dir):
    """Symmetric per-vector int8 quantization of the embeddings table —
    the 4x storage lever for the ANN corpus; map-only, with per-vector
    scale and reconstruction error value-checked (floor-based spec, same
    cross-engine-exact trick as the IVF quantizer).

    The int8 codes are emitted as a comma-joined STRING column
    (``q_codes``) rather than the library's ARRAY<INT>: the external
    gate's pandas canonicalizer cannot sort list-valued cells (the r5
    red row), and a serialized column carries identical information.
    Library callers use ``quantize_embeddings`` directly for the array."""
    df = similarity.quantize_embeddings(_emb(spark, sf_dir))
    return df.select(
        "vec_id",
        "scale",
        # coalesce mirrors the oracle's guard: a NULL embedding array
        # would make q NULL -> array_join NULL on Spark but '' on DuckDB
        # (r6 review)
        F.coalesce(F.array_join(F.col("q"), ","), F.lit("")).alias("q_codes"),
        "mean_abs_err",
    )


ORACLE_EMBEDDING_QUANTIZE = f"""
WITH s AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
           / {_QMAX} AS scale
  FROM embeddings
), qd AS (
  SELECT vec_id, embedding, scale,
         CASE WHEN scale > 0
              THEN list_transform(embedding,
                     x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS INT))
              ELSE list_transform(embedding, x -> 0) END AS q
  FROM s
)
SELECT vec_id,
       round(scale, 6) AS scale,
       COALESCE(array_to_string(q, ','), '') AS q_codes,
       round(list_reduce(
               list_transform(generate_series(1, len(embedding)),
                 i -> abs(CAST(embedding[i] AS DOUBLE)
                          - CAST(q[i] AS DOUBLE) * scale)),
               (a, b) -> a + b) / len(embedding), 6) AS mean_abs_err
FROM qd
ORDER BY vec_id
"""


ORACLE_DEDUP_EMBEDDING = f"""
WITH {_sketch_ctes()},
capped AS (
  {_capped_sql("vec_id, tbl, bucket", "tbl, bucket", "bands", similarity.COS_MAX_BUCKET)}
), pairs AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM capped a JOIN capped b
    ON b.tbl = a.tbl AND b.bucket = a.bucket AND a.vec_id < b.vec_id
), {_N_CTE}, sims AS (
  SELECT pairs.id_a, pairs.id_b, {_cos_sql("a", "b")} AS cos
  FROM pairs JOIN n a ON a.vec_id = pairs.id_a JOIN n b ON b.vec_id = pairs.id_b
)
SELECT id_a, id_b, round(cos, {_ROUND}) AS cos_sim
FROM sims WHERE cos >= {similarity.COS_DUP_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# Evaluation / windowed analytics (events)
# ---------------------------------------------------------------------------


def q_eval_numeric(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    pairs = docs.select(
        F.col("n_chars").alias("y_true"),
        (F.length("text") + F.pmod(F.col("doc_id"), F.lit(7))).alias("y_pred"),
    )
    return numeric_metrics(pairs)


ORACLE_EVAL_NUMERIC = """
WITH p AS (
  SELECT CAST(n_chars AS DOUBLE) AS t,
         CAST(length(text) + doc_id % 7 AS DOUBLE) AS p
  FROM documents WHERE n_chars IS NOT NULL
)
SELECT CAST(count(*) AS BIGINT) AS n,
       round(avg((p - t) * (p - t)), 6) AS mse,
       round(sqrt(avg((p - t) * (p - t))), 6) AS rmse,
       round(CASE WHEN (sum(t*t) - sum(t)*sum(t)/count(*)) <> 0
             THEN 1.0 - sum((p - t)*(p - t)) / (sum(t*t) - sum(t)*sum(t)/count(*))
             END, 6) AS r2
FROM p
"""


def q_eval_text(spark, sf_dir):
    """Text-accuracy evaluation (SURVEY A12) end-to-end: aligned cell pairs
    synthesized from documents tokens with a deterministic perturbation
    ((doc_id + pos) % 7 -> mismatch), reduced by evaluation.text_accuracy."""
    from ocr_table_extractor_to_csv_spark.operators.evaluation import text_accuracy
    from ocr_table_extractor_to_csv_spark.operators.textstats import tokens_col

    cells = _docs(spark, sf_dir).select(
        "doc_id", F.posexplode(tokens_col(F.col("text"))).alias("pos", "ref")
    ).select(
        "ref",
        F.when(
            F.pmod(F.col("doc_id") + F.col("pos"), F.lit(7)) == 0,
            F.concat(F.col("ref"), F.lit("_x")),
        )
        .otherwise(F.col("ref"))
        .alias("pred"),
    )
    return text_accuracy(cells)


ORACLE_EVAL_TEXT = f"""
WITH c AS (
  SELECT doc_id, ts[i] AS ref,
         CASE WHEN (doc_id + i - 1) % 7 = 0 THEN ts[i] || '_x' ELSE ts[i] END AS pred
  FROM (SELECT doc_id, {_TOKS_SQL} AS ts FROM documents) _t,
       UNNEST(generate_series(1, len(ts))) AS u(i)
)
SELECT CAST(count(*) AS BIGINT) AS total_cells,
       CAST(sum(CASE WHEN ref = pred THEN 1 ELSE 0 END) AS BIGINT) AS matched_cells,
       round(CAST(sum(CASE WHEN ref = pred THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
         AS text_accuracy
FROM c
"""


def q_windowed_counts(spark, sf_dir):
    """Tumbling event-time windows through the SAME shared builder a
    streaming query uses (streaming/windows.windowed_event_counts — the
    watermark is a batch no-op), so the streaming aggregation logic gets a
    value-level driver check; epochs, not timestamps, cross the hash."""
    from ocr_table_extractor_to_csv_spark.streaming.windows import windowed_event_counts

    ev = _events(spark, sf_dir).where(F.col("ts").isNotNull())
    w = windowed_event_counts(ev)
    return w.select(
        F.unix_timestamp("window_start").alias("ws_epoch"),
        F.unix_timestamp("window_end").alias("we_epoch"),
        "event_type",
        "n",
        "sum_value",
    )


ORACLE_WINDOWED_COUNTS = """
SELECT CAST(epoch(time_bucket(INTERVAL 1 HOUR, ts)) AS BIGINT) AS ws_epoch,
       CAST(epoch(time_bucket(INTERVAL 1 HOUR, ts)) + 3600 AS BIGINT) AS we_epoch,
       event_type,
       count(*) AS n,
       round(sum(value), 2) AS sum_value
FROM events WHERE ts IS NOT NULL
GROUP BY 1, 2, 3
"""


# ``t``/``c``: each document's CHUNK_TOKENS-token chunks and the sub-chunk
# tail after them, the chunk spec of the line_dedup operators
_CHUNK = dedup.CHUNK_TOKENS
_CHUNK_CTES = f"""t AS (
  SELECT doc_id, {_TOKS_SQL} AS ts FROM documents
), c AS (
  SELECT doc_id,
         CASE WHEN len(ts) >= {_CHUNK}
              THEN list_transform(
                     generate_series(0, CAST(len(ts) // {_CHUNK} AS INT) - 1),
                     i -> array_to_string(ts[i*{_CHUNK}+1 : i*{_CHUNK}+{_CHUNK}], ' '))
              ELSE []::VARCHAR[] END AS chunks,
         array_to_string(ts[CAST(len(ts) // {_CHUNK} AS INT) * {_CHUNK} + 1 : len(ts)], ' ')
           AS tail
  FROM t
)"""


ORACLE_LINE_DEDUP = f"""
WITH {_CHUNK_CTES}, ex AS (
  SELECT doc_id, md5(unnest(chunks)) AS chunk_key FROM c
), cnt AS (
  SELECT chunk_key, count(DISTINCT doc_id) AS docs_with FROM ex GROUP BY chunk_key
)
SELECT ex.doc_id,
       count(*) AS n_chunks,
       CAST(sum(CASE WHEN cnt.docs_with > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_chunks,
       round(CAST(sum(CASE WHEN cnt.docs_with > 1 THEN 1 ELSE 0 END) AS BIGINT)
             / count(*), 6) AS dup_ratio
FROM ex JOIN cnt USING (chunk_key)
GROUP BY ex.doc_id
ORDER BY doc_id
"""


ORACLE_LINE_DEDUP_CLEAN = f"""
WITH {_CHUNK_CTES}, ex AS (
  SELECT doc_id,
         UNNEST(list_transform(generate_series(1, len(chunks)),
                i -> {{'idx': i - 1, 'chunk': chunks[i]}}), recursive := true)
  FROM c
), ranked AS (
  SELECT doc_id, idx, chunk,
         ROW_NUMBER() OVER (PARTITION BY md5(chunk) ORDER BY doc_id, idx) AS rn
  FROM ex
), kept AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS INT) AS n_kept,
         string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY idx)
           AS kept_text
  FROM ranked GROUP BY doc_id
)
SELECT c.doc_id,
       CAST(len(c.chunks) AS INT) AS n_chunks,
       coalesce(k.n_kept, 0) AS n_kept,
       trim(concat_ws(' ', coalesce(k.kept_text, ''), c.tail)) AS text_clean
FROM c LEFT JOIN kept k USING (doc_id)
ORDER BY doc_id
"""


# the oracle keeps first occurrences with an order-EXPLICIT first-index
# filter (DuckDB list_distinct does not preserve order; Spark's
# array_distinct does, pinned in pytest)
ORACLE_LINE_DEDUP_WITHIN = f"""
WITH {_CHUNK_CTES}, d AS (
  SELECT doc_id, chunks, tail,
         list_filter(chunks, (x, i) -> list_position(chunks, x) = i) AS ded
  FROM c
)
SELECT doc_id,
       CAST(len(chunks) AS INT) AS n_chunks,
       CAST(len(ded) AS INT) AS n_kept,
       trim(concat_ws(' ', array_to_string(ded, ' '), tail)) AS text_clean
FROM d ORDER BY doc_id
"""


def q_corpus_diff(spark, sf_dir):
    """Snapshot reconciliation between two deterministic views of the
    documents table: OLD drops doc_id%10==0, NEW drops doc_id%10==1 and
    revises the text of doc_id%7==0 — so added/removed/changed are all
    exercised and independently derivable in SQL."""
    return curation.corpus_diff(*_diff_snapshots(spark, sf_dir))


ORACLE_CORPUS_DIFF = """
WITH old AS (
  SELECT doc_id, md5(text) AS fp, TRUE AS present
  FROM documents WHERE doc_id % 10 <> 0
), new AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]' ELSE text END) AS fp,
         TRUE AS present
  FROM documents WHERE doc_id % 10 <> 1
)
SELECT COALESCE(old.doc_id, new.doc_id) AS doc_id,
       CASE WHEN old.present IS NULL THEN 'added'
            WHEN new.present IS NULL THEN 'removed'
            WHEN old.fp IS DISTINCT FROM new.fp THEN 'changed'
            ELSE 'unchanged' END AS status
FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
WHERE (CASE WHEN old.present IS NULL THEN 'added'
            WHEN new.present IS NULL THEN 'removed'
            WHEN old.fp IS DISTINCT FROM new.fp THEN 'changed'
            ELSE 'unchanged' END) <> 'unchanged'
ORDER BY doc_id
"""


def _diff_snapshots(spark, sf_dir, fan: bool = False):
    """The shared OLD/NEW snapshot pair used by corpus_diff AND
    curate_incremental: OLD drops doc_id%10==0, NEW drops doc_id%10==1
    and revises the text of doc_id%7==0 — added/removed/changed/unchanged
    all exercised, all independently derivable in SQL."""
    # fan: on for curate_incremental (scoring-heavy consumer, A/B win),
    # off for corpus_diff (digest-only map work; the fan shuffle only cost)
    docs = (_docs_f if fan else _docs)(spark, sf_dir)
    old = docs.where(F.col("doc_id") % 10 != 0)
    new = docs.where(F.col("doc_id") % 10 != 1).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
        ).otherwise(F.col("text")).alias("text"),
    )
    return old, new


def q_curate_incremental(spark, sf_dir):
    """Incremental corpus refresh over the shared OLD/NEW snapshot pair:
    unchanged docs carry their prev verdicts ('retained'); added/changed
    docs are Bloom-prefiltered against the unchanged corpus and curated
    as a delta ('fresh') — O(delta) refresh, the composition of
    corpus_diff + bloom_dedup + curate."""
    return curation.curate_incremental(*_diff_snapshots(spark, sf_dir, fan=True))


def _oracle_curate_incremental() -> str:
    """The spec in SQL over the same snapshot transforms: unchanged =
    present in both AND not revised; retained = curate(old) on unchanged;
    candidates = delta docs whose normalized-text fp is absent from the
    unchanged corpus (exact membership — equals the Spark side's
    bloom-with-exact-confirm); fresh = curate(candidates)."""
    cur_old = _oracle_curate().replace("FROM documents", "FROM old_docs").strip()
    cur_cand = _oracle_curate().replace("FROM documents", "FROM cand_docs").strip()
    return f"""
WITH old_docs AS MATERIALIZED (
  SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0
), new_docs AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]' ELSE text END AS text
  FROM documents WHERE doc_id % 10 <> 1
), unchanged AS (
  SELECT o.doc_id FROM old_docs o JOIN new_docs n USING (doc_id)
  WHERE md5(o.text) IS NOT DISTINCT FROM md5(n.text)
), retained AS (
  SELECT c.doc_id, c.n_tokens, c.quality_score, c.lang_pred
  FROM ({cur_old}) c JOIN unchanged USING (doc_id)
), unchanged_fps AS (
  SELECT DISTINCT md5({_NORM_NN_SQL}) AS fp
  FROM old_docs JOIN unchanged USING (doc_id)
), cand_docs AS MATERIALIZED (
  SELECT d.doc_id, d.text FROM new_docs d
  WHERE d.doc_id NOT IN (SELECT doc_id FROM unchanged)
    AND md5({_NORM_NN_SQL.replace("(text", "(d.text")})
        NOT IN (SELECT fp FROM unchanged_fps)
), fresh AS (
  SELECT doc_id, n_tokens, quality_score, lang_pred FROM ({cur_cand}) _f
)
SELECT doc_id, n_tokens, quality_score, lang_pred, 'retained' AS origin
FROM retained
UNION ALL
SELECT doc_id, n_tokens, quality_score, lang_pred, 'fresh' AS origin
FROM fresh
ORDER BY doc_id
"""


def _oracle_bpe_train() -> str:
    """The same greedy algorithm unrolled: v{i} = vocab after i merges,
    p{i} = the i-th winning pair (count DESC, left ASC, right ASC).
    replace() is non-overlapping left-to-right in BOTH engines, and the
    DOUBLE-space delimiter framing (see operators/bpe.py) makes that one
    pass exactly reference BPE's greedy merge scan — rewrites identical.
    """
    n_merges = bpe.BPE_MERGES
    body = ""
    for i in range(1, n_merges + 1):
        body += f""",
p{i} AS MATERIALIZED (
  SELECT s.ts[i] AS l, s.ts[i + 1] AS r, CAST(sum(s.freq) AS BIGINT) AS cnt
  FROM (SELECT string_split(trim(spaced), '  ') AS ts, freq FROM v{i - 1}) s,
       UNNEST(generate_series(1, len(s.ts) - 1)) AS u(i)
  GROUP BY 1, 2 ORDER BY cnt DESC, l ASC, r ASC LIMIT 1
),
v{i} AS MATERIALIZED (
  SELECT replace(spaced, ' ' || p.l || '  ' || p.r || ' ',
                 ' ' || p.l || p.r || ' ') AS spaced, freq
  FROM v{i - 1}, p{i} p
)"""
    ranks = " UNION ALL ".join(
        f"SELECT {i} AS rank, l AS left_sym, r AS right_sym, cnt AS pair_count FROM p{i}"
        for i in range(1, n_merges + 1)
    )
    return f"""
WITH wf AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS freq
  FROM (SELECT unnest({_TOKS_SQL.strip()}) AS word FROM documents) _w
  WHERE word <> ''
  GROUP BY word ORDER BY freq DESC, word ASC LIMIT {bpe.BPE_TOP_WORDS}
),
v0 AS MATERIALIZED (
  SELECT '  ' || array_to_string(
           list_transform(generate_series(1, length(word)),
                          i -> substr(word, i, 1)), '  ') || '  ' AS spaced,
         freq
  FROM wf
){body}
SELECT CAST(rank AS INT) AS rank, left_sym, right_sym, pair_count
FROM ({ranks}) _m
ORDER BY rank
"""


def _oracle_token_count_trained() -> str:
    """The bpe_train oracle's CTE chain re-used for its p{i} merge rows,
    then the encode: the same replace chain applied per word via scalar
    subqueries on the single-row p{i} CTEs."""
    train = _oracle_bpe_train()
    # keep everything up to the final SELECT (the WITH chain defines
    # wf/v0/p1..pk/v1..vk); splice our encode CTEs after the last v{k}
    head, _, _tail = train.partition("\nSELECT CAST(rank AS INT)")
    enc = "spaced"
    for i in range(1, bpe.BPE_MERGES + 1):
        # coalesce to a chr(0) needle: if the vocab fully merged before
        # rank i, p{i} is EMPTY and the scalar subqueries are NULL — a
        # bare replace would NULL-poison the whole chain; replacing a NUL
        # (never present in spaced strings) is the identity, mirroring
        # the Spark side's "apply only the merges actually found"
        enc = (
            f"replace({enc}, coalesce(' ' || (SELECT l FROM p{i}) || '  ' || "
            f"(SELECT r FROM p{i}) || ' ', chr(0)), "
            f"coalesce(' ' || (SELECT l FROM p{i}) || (SELECT r FROM p{i}) "
            f"|| ' ', chr(0)))"
        )
    return f"""{head},
words AS (
  SELECT doc_id, word
  FROM (SELECT doc_id, unnest({_TOKS_SQL.strip()}) AS word FROM documents) _w
  WHERE word <> ''
), encoded AS (
  SELECT doc_id,
         len(string_split(trim({enc}), '  ')) AS n_syms
  FROM (
    SELECT doc_id,
           '  ' || array_to_string(
             list_transform(generate_series(1, length(word)),
                            i -> substr(word, i, 1)), '  ') || '  ' AS spaced
    FROM words
  ) _s
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(n_syms) AS BIGINT) AS n_bpe_tokens,
       round(CAST(sum(n_syms) AS BIGINT) / count(*), 5) AS tokens_per_word
FROM encoded
GROUP BY doc_id
ORDER BY doc_id
"""


def q_url_dedup(spark, sf_dir):
    """URL-level dedup: canonicalize cosmetically-noisy URLs (host case,
    :80, fragments, utm_* params, /index.html) and fold duplicates —
    the cheapest dedup in a web pipeline, run before any content pass.
    The documents table carries no URL, so a deterministic synthetic one
    is attached from md5(doc_id) bits (the oracle reproduces the bytes)."""
    return weburl.url_dedup(weburl.with_synth_url(_docs(spark, sf_dir)))


# the synth-URL + canonicalization chain (DuckDB twin of weburl.with_synth_url
# + weburl.canonicalize_url), reused by ORACLE_URL_DEDUP and the pipeline-v2
# oracle's pass-0 keeper CTEs
_URL_CANON_CTES = f"""raw AS (
  SELECT doc_id,
         {_md5_int_sql("'url:' || doc_id", 1, 2)} AS b,
         source || '.example.com' AS host,
         CAST(doc_id % {weburl.SYNTH_URL_SLOTS} AS VARCHAR) AS slot,
         CAST(doc_id % {weburl.SYNTH_URL_FRAGS} AS VARCHAR) AS frag
  FROM documents
), u AS (
  SELECT doc_id,
         (CASE WHEN b & 1 = 1 THEN 'HTTP://' ELSE 'http://' END) ||
         (CASE WHEN b & 2 = 2 THEN upper(host) ELSE host END) ||
         (CASE WHEN b & 4 = 4 THEN ':80' ELSE '' END) ||
         '/p/' || slot ||
         (CASE WHEN b & 8 = 8 THEN '/index.html' ELSE '' END) ||
         (CASE WHEN b & 16 = 16 THEN '?utm_source=feed&utm_medium=rss' ELSE '' END) ||
         (CASE WHEN b & 32 = 32 THEN '#s' || frag ELSE '' END) AS url
  FROM raw
), defrag AS (
  SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS nf
  FROM u
), parts AS (
  SELECT doc_id, url, nf,
         lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         lower(regexp_extract(nf, '^[^:/?#]+://([^/?#]*)', 1)) AS auth0,
         regexp_extract(nf, '^[^:/?#]+://[^/?#]*([^#]*)', 1) AS rest
  FROM defrag
), norm AS (
  SELECT doc_id, url, nf, scheme,
         CASE WHEN scheme = 'http'  AND regexp_matches(auth0, ':80$')
                THEN regexp_replace(auth0, ':80$', '')
              WHEN scheme = 'https' AND regexp_matches(auth0, ':443$')
                THEN regexp_replace(auth0, ':443$', '')
              ELSE auth0 END AS auth,
         regexp_extract(rest, '^([^?]*)', 1) AS path0,
         regexp_extract(rest, '^[^?]*\\?(.*)$', 1) AS query0
  FROM parts
), paths AS (
  SELECT doc_id, url, nf, scheme, auth, query0,
         regexp_replace(path0, '/index\\.html$', '/') AS p0i
  FROM norm
), paths2 AS (
  SELECT doc_id, url, nf, scheme, auth, query0,
         CASE WHEN p0i <> '/' AND p0i LIKE '%/'
                THEN substr(p0i, 1, length(p0i) - 1)
              ELSE p0i END AS p1
  FROM paths
), built AS (
  SELECT doc_id, url, nf, scheme, auth,
         CASE WHEN p1 = '' THEN '/' ELSE p1 END AS path,
         COALESCE(array_to_string(
           list_filter(string_split(query0, '&'),
                       x -> NOT starts_with(x, 'utm_')), '&'), '') AS query
  FROM paths2
), canon AS (
  SELECT doc_id, url,
         CASE WHEN scheme = '' THEN nf
              ELSE scheme || '://' || auth || path ||
                   (CASE WHEN query = '' THEN '' ELSE '?' || query END)
         END AS canon_url
  FROM built
)"""

ORACLE_URL_DEDUP = f"""
WITH {_URL_CANON_CTES}
SELECT canon_url,
       count(*) AS n_docs,
       count(DISTINCT url) AS n_variants,
       min(doc_id) AS keeper_doc_id
FROM canon
GROUP BY canon_url
ORDER BY canon_url
"""


def q_substring_dedup(spark, sf_dir):
    """Exact-substring dup candidates via content-defined anchor k-grams
    (``dedup.substring_dedup_pairs``) — the dedup mode whole-document
    MinHash misses: a long verbatim span inside an otherwise-unrelated
    pair has low doc-level Jaccard but still shares anchors (Lee et al.
    2022's suffix-array target, re-expressed as Spark-shaped anchor
    sampling; shared skew-safe hot-anchor cap)."""
    return dedup.substring_dedup_pairs(_docs_f(spark, sf_dir)).orderBy(
        "id_a", "id_b"
    )


ORACLE_SUBSTRING_DEDUP = f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS ts FROM documents),
g AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(ts) >= {dedup.SUBSTR_GRAM}
         THEN list_transform(generate_series(1, len(ts) - {dedup.SUBSTR_GRAM - 1}),
              i -> array_to_string(ts[i:i+{dedup.SUBSTR_GRAM - 1}], '_'))
         ELSE []::VARCHAR[] END)) AS gram
  FROM toks
),
anch0 AS (
  SELECT doc_id, md5(gram) AS anchor
  FROM g
  WHERE {_md5_int_sql("gram", 1, 8)}
        % {dedup.SUBSTR_ANCHOR_MOD} = 0
),
anch AS MATERIALIZED (
  {_capped_sql("doc_id, anchor", "anchor", "anch0", dedup.SUBSTR_MAX_BUCKET)}
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS INT) AS n_shared
FROM anch a JOIN anch b ON a.anchor = b.anchor AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= {dedup.SUBSTR_MIN_ANCHORS}
ORDER BY id_a, id_b
"""


ORACLE_QUALITY_CLASSIFIER = f"""
WITH t AS (SELECT doc_id, text, {_TOKS_SQL} AS ts FROM documents),
lab AS (
  SELECT doc_id, ts,
         CASE WHEN round(least(1.0, CAST(len(ts) AS DOUBLE) / 50.0)
              - CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
                / greatest(1, length(text)), 5) >= {textstats.QC_THRESHOLD}
              THEN 1 ELSE 0 END AS label
  FROM t
),
tok AS MATERIALIZED (
  SELECT doc_id, label,
         CAST({_md5_int_sql("tok", 1, 8)}
              % {textstats.QC_BUCKETS} AS INT) AS bucket
  FROM (SELECT doc_id, label, unnest(ts) AS tok FROM lab) _u
),
w AS MATERIALIZED (
  SELECT bucket, CAST(sum(label) AS BIGINT) AS pos, count(*) AS cnt
  FROM tok WHERE doc_id % {textstats.QC_TRAIN_MOD} = 0
  GROUP BY bucket
),
g AS MATERIALIZED (
  -- column sums of the bounded stats table (mirrors the Spark side: no
  -- second pass over the token stream)
  SELECT CAST(sum(pos) AS BIGINT) AS gpos, CAST(sum(cnt) AS BIGINT) AS gcnt
  FROM w
)
SELECT t.doc_id,
       CAST(count(*) AS INT) AS n_tokens,
       CAST(max(t.label) AS INT) AS label,
       CAST(sum(CASE WHEN w.bucket IS NULL THEN 0
                     WHEN CAST(w.pos AS DOUBLE) * CAST(g.gcnt AS DOUBLE)
                        > CAST(g.gpos AS DOUBLE) * CAST(w.cnt AS DOUBLE) THEN 1
                     WHEN CAST(w.pos AS DOUBLE) * CAST(g.gcnt AS DOUBLE)
                        < CAST(g.gpos AS DOUBLE) * CAST(w.cnt AS DOUBLE) THEN -1
                     ELSE 0 END) AS BIGINT) AS vote,
       sum(CASE WHEN w.bucket IS NULL THEN 0
                WHEN CAST(w.pos AS DOUBLE) * CAST(g.gcnt AS DOUBLE)
                   > CAST(g.gpos AS DOUBLE) * CAST(w.cnt AS DOUBLE) THEN 1
                WHEN CAST(w.pos AS DOUBLE) * CAST(g.gcnt AS DOUBLE)
                   < CAST(g.gpos AS DOUBLE) * CAST(w.cnt AS DOUBLE) THEN -1
                ELSE 0 END) >= 0 AS pred
FROM tok t LEFT JOIN w ON t.bucket = w.bucket CROSS JOIN g
GROUP BY t.doc_id
ORDER BY t.doc_id
"""


# ---------------------------------------------------------------------------
# Contract surface
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction pipeline over synthesized pages (sf0.001)."""
    return queries()["extract_grid4"](spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# round-6 (late) web-curation gates: gopher_rules / url_filter / domain_cap
# ---------------------------------------------------------------------------

_GOPHER_STOPS = ",".join(f"'{w}'" for w in textstats.GOPHER_STOPWORDS)
_GATE_FLAGS = [
    "word_count_ok", "mean_len_ok", "symbol_ok", "bullet_ok",
    "ellipsis_ok", "alpha_ok", "stop_ok", "keep",
]


def q_gopher_rules(spark, sf_dir):
    """Gopher rule-based quality gates (Rae et al. 2021 A1.1) at the
    paper's published thresholds: per-doc signals + one flag per rule +
    the conjunction verdict.  Map-only, zero shuffle — the first content
    gate in the curation ladder.  Flags cast to INT for the gate
    canonicalizer (no boolean output precedent; same caution as the r5
    array lesson)."""
    g = textstats.gopher_rules(_docs_f(spark, sf_dir))
    keep = [c for c in g.columns if c not in _GATE_FLAGS]
    return g.select(
        *keep, *[F.col(c).cast("int").alias(c) for c in _GATE_FLAGS]
    )


# the textstats.GOPHER_<NAME> values by <NAME>
_G = {k[len("GOPHER_"):]: v for k, v in vars(textstats).items() if k.startswith("GOPHER_")}
_WORDS_OK = f"n_words >= {_G['MIN_WORDS']} AND n_words <= {_G['MAX_WORDS']}"
_MEAN_OK = f"mean_len >= {_G['MIN_MEAN_WORD_LEN']} AND mean_len <= {_G['MAX_MEAN_WORD_LEN']}"
ORACLE_GOPHER_RULES = f"""
WITH t AS (SELECT doc_id, text, {_TOKS_SQL} AS ts FROM documents),
s AS (
  SELECT doc_id,
    CAST(len(ts) AS INT) AS n_words,
    CAST(greatest(1, len(ts)) AS DOUBLE) AS dw,
    CAST(COALESCE(list_sum(list_transform(ts, x -> length(x))), 0) AS DOUBLE)
      AS wlen,
    CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS DOUBLE) AS nsym,
    string_split(text, chr(10)) AS ls,
    CAST(len(list_filter(ts, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
      AS nalpha,
    CAST(len(list_filter(ts, x -> x IN ({_GOPHER_STOPS}))) AS INT)
      AS stop_hits
  FROM t
), s2 AS (
  SELECT doc_id, n_words, stop_hits,
    wlen / dw AS mean_len,
    nsym / dw AS sym,
    CAST(len(list_filter(ls, l -> regexp_matches(ltrim(l), '^[-*•]')))
         AS DOUBLE) / greatest(1, len(ls)) AS bul,
    CAST(len(list_filter(ls, l -> regexp_matches(rtrim(l), '(\\.\\.\\.|…)$')))
         AS DOUBLE) / greatest(1, len(ls)) AS ell,
    nalpha / dw AS alpha
  FROM s
)
SELECT doc_id, n_words,
  round(mean_len, 5) AS mean_word_len,
  round(sym, 5) AS symbol_ratio,
  round(bul, 5) AS bullet_line_ratio,
  round(ell, 5) AS ellipsis_line_ratio,
  round(alpha, 5) AS alpha_word_ratio,
  stop_hits,
  CAST({_WORDS_OK} AS INT) AS word_count_ok,
  CAST({_MEAN_OK} AS INT) AS mean_len_ok,
  CAST(sym <= {_G['MAX_SYMBOL_RATIO']} AS INT) AS symbol_ok,
  CAST(bul <= {_G['MAX_BULLET_LINE_RATIO']} AS INT) AS bullet_ok,
  CAST(ell <= {_G['MAX_ELLIPSIS_LINE_RATIO']} AS INT) AS ellipsis_ok,
  CAST(alpha >= {_G['MIN_ALPHA_WORD_RATIO']} AS INT) AS alpha_ok,
  CAST(stop_hits >= {_G['MIN_STOP_HITS']} AS INT) AS stop_ok,
  CAST({_WORDS_OK}
       AND {_MEAN_OK}
       AND sym <= {_G['MAX_SYMBOL_RATIO']} AND bul <= {_G['MAX_BULLET_LINE_RATIO']} AND ell <= {_G['MAX_ELLIPSIS_LINE_RATIO']}
       AND alpha >= {_G['MIN_ALPHA_WORD_RATIO']} AND stop_hits >= {_G['MIN_STOP_HITS']} AS INT) AS keep
FROM s2
"""


_URLF_MAX_PARAMS, _URLF_MAX_DIGIT_RATIO = weburl.URL_MAX_PARAMS, weburl.URL_MAX_HOST_DIGIT_RATIO
_URLF_FLAGS = [
    "host_blocked", "banned_hit", "too_many_params",
    "path_too_deep", "digit_host", "keep",
]


def q_url_filter(spark, sf_dir):
    """RefinedWeb-style URL-level gate: blocklist (broadcast join), spam
    substrings, raw-param overload, path-trap depth, digit-heavy hosts —
    the only curation gate costing zero content bytes, so it runs first.
    Synthetic URL column as in url_dedup (oracle reproduces the bytes)."""
    out = weburl.url_filter(weburl.with_synth_url(_docs_f(spark, sf_dir)))
    keep = [c for c in out.columns if c not in _URLF_FLAGS]
    return out.select(
        *keep, *[F.col(c).cast("int").alias(c) for c in _URLF_FLAGS]
    )


_URLF_BLOCK_SQL = ",".join(f"'{h}'" for h in weburl.URL_BLOCKLIST)
_DEPTH = weburl.URL_MAX_PATH_DEPTH

ORACLE_URL_FILTER = f"""
WITH {_URL_CANON_CTES},
parts2 AS (
  SELECT doc_id, url,
    regexp_extract(canon_url, '^[^:/?#]+://([^/?#]*)', 1) AS host,
    regexp_extract(canon_url, '^[^:/?#]+://[^/?#]*([^?#]*)', 1) AS path,
    regexp_extract(url, '\\?([^#]*)', 1) AS rq
  FROM canon
), f AS (
  SELECT doc_id, host,
    CAST(CASE WHEN rq = '' THEN 0
              ELSE len(string_split(rq, '&')) END AS INT) AS n_params,
    CAST(len(list_filter(string_split(path, '/'), s -> s <> '')) AS INT)
      AS path_depth,
    CAST(length(regexp_replace(host, '[^0-9]', '', 'g')) AS DOUBLE)
      / greatest(1, length(host)) AS dr,
    regexp_matches(lower(url), '{"|".join(weburl.BANNED_URL_WORDS)}') AS banned,
    host IN ({_URLF_BLOCK_SQL}) AS blocked
  FROM parts2
)
SELECT doc_id, host, n_params, path_depth,
  round(dr, 5) AS host_digit_ratio,
  CAST(blocked AS INT) AS host_blocked,
  CAST(banned AS INT) AS banned_hit,
  CAST(n_params > {_URLF_MAX_PARAMS} AS INT) AS too_many_params,
  CAST(path_depth > {_DEPTH} AS INT) AS path_too_deep,
  CAST(dr > {_URLF_MAX_DIGIT_RATIO} AS INT) AS digit_host,
  CAST(NOT (blocked OR banned OR n_params > {_URLF_MAX_PARAMS} OR path_depth > {_DEPTH}
            OR dr > {_URLF_MAX_DIGIT_RATIO}) AS INT) AS keep
FROM f
"""


def q_domain_cap(spark, sf_dir):
    """Per-domain document cap (anti-SEO-farm): exact min-``DOMAIN_CAP``
    doc_ids per canonical host via the salted two-phase rank — phase 1
    windows on (host, salt) so no task sorts a whole viral domain, phase 2
    re-ranks the <= salt_mod x cap survivors.  Oracle is the plain
    ROW_NUMBER formulation the two-phase shape provably equals."""
    return weburl.domain_cap(weburl.with_synth_url(_docs(spark, sf_dir)))


ORACLE_DOMAIN_CAP = f"""
WITH {_URL_CANON_CTES},
h AS (
  SELECT doc_id,
    regexp_extract(canon_url, '^[^:/?#]+://([^/?#]*)', 1) AS host
  FROM canon
), r AS (
  SELECT host, doc_id,
    CAST(row_number() OVER (PARTITION BY host ORDER BY doc_id) AS INT)
      AS domain_rank
  FROM h
)
SELECT host, doc_id, domain_rank
FROM r WHERE domain_rank <= {weburl.DOMAIN_CAP}
ORDER BY host, domain_rank
"""


# --- normalize_text ------------------------------------------------------
# The testdata documents are plain ASCII, so (PII-oracle convention) a
# deterministic unicode-noise suffix is attached on BOTH sides to exercise
# every NORMALIZE_RULES entry: NBSP, curly quotes, en dash, ellipsis glyph,
# CRLF runs, tab, a control char, trailing space.
_NORM_NOISE_SPARK = lambda: F.concat(  # noqa: E731
    F.col("text"),
    F.lit("  “q"),
    F.pmod(F.col("doc_id"), F.lit(5)).cast("string"),
    F.lit("” – it’s …\r\n\r\n\r\n\te n d\x01 "),
)

_NORM_NOISE_SQL = (
    "text || chr(160) || ' “q' || CAST(doc_id % 5 AS VARCHAR)"
    " || '” – it' || chr(8217) || 's …' || chr(13)||chr(10)||chr(13)||chr(10)"
    "||chr(13)||chr(10) || chr(9) || 'e n d' || chr(1) || ' '"
)


def _sql_q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


# the oracle's replace chain is GENERATED from the operator's frozen rule
# list — one spec, two engines (patterns are Java-regex/RE2-common by
# construction; DuckDB '...' literals keep backslashes raw, same bytes the
# Spark side passes to Java regex)
_NORM_CHAIN_SQL = "text"
for _pat, _rep in textstats.NORMALIZE_RULES:
    _NORM_CHAIN_SQL = (
        f"regexp_replace({_NORM_CHAIN_SQL}, {_sql_q(_pat)}, {_sql_q(_rep)}, 'g')"
    )


def q_normalize_text(spark, sf_dir):
    """C4/ftfy-style unicode+whitespace normalization: fold punctuation
    look-alikes to ASCII, drop control chars, normalize CRLF, collapse
    whitespace/blank-line runs, trim.  Map-only, zero shuffle — runs
    between extraction and fingerprinting so dedup sees one spelling of
    each page.  `changed` cast to INT (gate-canonicalizer convention)."""
    docs = _docs_f(spark, sf_dir).withColumn("text", _NORM_NOISE_SPARK())
    return textstats.normalize_text(docs).withColumn(
        "changed", F.col("changed").cast("int")
    )


ORACLE_NORMALIZE_TEXT = f"""
WITH d AS (SELECT doc_id, {_NORM_NOISE_SQL} AS text FROM documents),
n AS (SELECT doc_id, text, {_NORM_CHAIN_SQL} AS text_norm FROM d)
SELECT doc_id, text_norm,
  CAST(length(text) AS INT) AS n_chars_raw,
  CAST(length(text_norm) AS INT) AS n_chars_norm,
  CAST(text_norm <> text AS INT) AS changed
FROM n
"""


# --- kmv_distinct --------------------------------------------------------


def _oracle_kmv_distinct() -> str:
    k, space = sketches.KMV_K, sketches.HASH_SPACE
    return f"""
WITH sh AS (
  SELECT doc_id, shingle FROM ({_SHINGLES_SQL}) s WHERE shingle <> ''
), d AS (
  SELECT DISTINCT doc.source,
    {_md5_int_sql("sh.shingle", 1, 15)} AS h
  FROM sh JOIN documents doc USING (doc_id)
), r AS (
  SELECT source, h,
    row_number() OVER (PARTITION BY source ORDER BY h) AS rk
  FROM d
), t AS (
  SELECT source, CAST(count(*) AS INT) AS n_sketch, max(h) AS mx
  FROM r WHERE rk <= {k} GROUP BY source
)
SELECT source, n_sketch,
  CASE WHEN n_sketch = {k} THEN mx END AS kth_min,
  CAST(CASE WHEN n_sketch = {k} THEN ({k} - 1) * ({space} // mx)
       ELSE n_sketch END AS BIGINT) AS distinct_est
FROM t
"""


# --- pagerank ------------------------------------------------------------
# Fixed-point integer PageRank over the deterministic synthetic host link
# graph (documents carry no link data; hosts = doc_id residues, two
# out-links per doc — pure column expressions both engines reproduce).
# All rank math is BIGINT in units of 1/PAGERANK_SCALE, so the result is
# bit-exact on any partitioning AND identical between Spark `div` and
# DuckDB `//` (both truncate; operands non-negative).  The oracle below is
# GENERATED by unrolling the same iteration the Spark operator runs — one
# spec, two engines (normalize_text convention).


def q_pagerank(spark, sf_dir):
    """Host-graph centrality for domain-level quality weighting (CC host
    ranks): ``PAGERANK_ITERS`` iterations of damped fixed-point PageRank
    over the synthetic host graph.  Each iteration is one equi-join of the tiny
    rank table against the edge table + one map-side-partial groupBy —
    the 100 TB shape (hosts ~1e8 rows vs edges ~1e10; AQE broadcasts the
    rank side when it fits)."""
    edges = graph.host_link_graph(_docs(spark, sf_dir))
    return graph.pagerank(edges, scope=_scope(spark, "pagerank"))


def _oracle_pagerank() -> str:
    scale, n, iters = graph.PAGERANK_SCALE, graph.LINK_HOSTS, graph.PAGERANK_ITERS
    dn, dd = graph.PAGERANK_DAMPING_NUM, graph.PAGERANK_DAMPING_DEN
    links = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id % {n} AS src, (doc_id * {mul} + {add}) % {n} AS dst FROM documents"
        for mul, add in graph.HOST_LINKS
    )
    sql = f"""
WITH e0 AS (
  {links}
), ew AS (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM e0 GROUP BY src, dst
), outw AS (
  SELECT src, CAST(sum(w) AS BIGINT) AS out_w FROM ew GROUP BY src
), nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM ew UNION ALL SELECT dst AS node FROM ew)
), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
r0 AS (
  SELECT node, CAST({scale} // (SELECT n FROM nn) AS BIGINT) AS rank_fp
  FROM nodes
)"""
    for i in range(1, iters + 1):
        sql += f""", c{i} AS (
  SELECT ew.dst AS node,
    CAST(sum(((r.rank_fp * {dn}) // ({dd} * outw.out_w)) * ew.w)
      AS BIGINT) AS c
  FROM ew JOIN outw USING (src) JOIN r{i - 1} r ON r.node = ew.src
  GROUP BY ew.dst
), r{i} AS (
  SELECT nodes.node,
    CAST(({scale} * {dd - dn}) // ({dd} * (SELECT n FROM nn))
      + COALESCE(c{i}.c, 0) AS BIGINT) AS rank_fp
  FROM nodes LEFT JOIN c{i} ON c{i}.node = nodes.node
)"""
    return sql + f"\nSELECT node, rank_fp FROM r{iters} ORDER BY node"


def q_pagerank_weights(spark, sf_dir):
    """The composition a curation run actually uses: every document
    carries its host's centrality as an integer quality weight —
    pagerank's (node, rank_fp) equi-joined back to the corpus on the
    host key.  The rank table is host-cardinality (tiny vs the corpus),
    so Spark broadcasts it: the corpus never shuffles for this join."""
    docs = _docs(spark, sf_dir)
    ranks = graph.pagerank(graph.host_link_graph(docs), scope=_scope(spark, "pagerank_weights"))
    return (
        docs.select(
            "doc_id", (F.col("doc_id") % graph.LINK_HOSTS).alias("host")
        )
        .join(
            F.broadcast(ranks.withColumnRenamed("node", "host")), "host"
        )
        .select("doc_id", "host", "rank_fp")
    )


def _oracle_pagerank_weights() -> str:
    return f"""
WITH pr AS MATERIALIZED ({_oracle_pagerank()})
SELECT doc_id, doc_id % {graph.LINK_HOSTS} AS host, pr.rank_fp
FROM documents JOIN pr ON pr.node = doc_id % {graph.LINK_HOSTS}
ORDER BY doc_id
"""


# The driver registry: one (name, query, oracle) row per query, every query
# with a full value-level DuckDB oracle.  Row ORDER is the driver's rotation
# policy: the external driver records only the first ~50 rows of a round,
# so a query that is new, or whose oracle was red last round, goes first,
# then the rest oldest external evidence first; each query must keep an
# external green row in the last two rounds.  tests/test_oracle_parity.py
# runs every row locally whatever the order.
_REGISTRY: tuple[tuple[str, Query, str], ...] = (
    ("pagerank", q_pagerank, _oracle_pagerank()),
    ("kmv_distinct", _over(_docs_f, sketches.kmv_distinct), _oracle_kmv_distinct()),
    ("cluster_stats", _over(_emb, similarity.cluster_stats), ORACLE_CLUSTER_STATS),
    ("wet_roundtrip", _roundtrip("wet"), _oracle_roundtrip("wet")),
    ("pagerank_weights", q_pagerank_weights, _oracle_pagerank_weights()),
    ("line_dedup_within", _over(_docs_f, dedup.line_dedup_within_page), ORACLE_LINE_DEDUP_WITHIN),
    ("normalize_text", q_normalize_text, ORACLE_NORMALIZE_TEXT),
    ("gopher_rules", q_gopher_rules, ORACLE_GOPHER_RULES),
    ("url_filter", q_url_filter, ORACLE_URL_FILTER),
    ("domain_cap", q_domain_cap, ORACLE_DOMAIN_CAP),
    ("substring_dedup", q_substring_dedup, ORACLE_SUBSTRING_DEDUP),
    ("quality_classifier", _over(_docs_f, textstats.quality_classifier), ORACLE_QUALITY_CLASSIFIER),
    ("semdedup", _over(_emb_f, similarity.semdedup), ORACLE_SEMDEDUP),
    ("mix_sample", _over(_docs, textstats.mix_sample), _oracle_mix_sample()),
    ("pipeline_full_v3", _over(
        _docs_f, _scoped(curation.curate_pipeline, "pipeline_full_v3"),
        clean_chunks=dedup.CHUNK_TOKENS,
    ), _oracle_pipeline_v3()),
    ("similarity_ivf_q", _over(_emb_f, similarity.ivf_topk, refine_q8=IVF_Q8_REFINE),
     _oracle_similarity_ivf(refine_q8=IVF_Q8_REFINE)),
    ("embedding_quantize", q_embedding_quantize, ORACLE_EMBEDDING_QUANTIZE),
    ("bpe_train", _over(_docs_f, bpe.bpe_train), _oracle_bpe_train()),
    ("token_count_trained", _over(_docs_f, bpe.token_count_trained), _oracle_token_count_trained()),
    # at sf0.01 the weighted sources need upsampling, at sf0.1 they
    # subsample; 'src_licensed' is weighted but absent from the corpus
    ("mix_plan", _over(_docs, textstats.mix_plan), _oracle_mix_plan()),
    ("similarity_lsh", _over(_emb_f, similarity.lsh_topk), ORACLE_SIMILARITY_LSH),
    ("similarity_ivf", _over(_emb_f, similarity.ivf_topk), _oracle_similarity_ivf()),
    ("eval_numeric", q_eval_numeric, ORACLE_EVAL_NUMERIC),
    ("eval_text", q_eval_text, ORACLE_EVAL_TEXT),
    ("windowed_counts", q_windowed_counts, ORACLE_WINDOWED_COUNTS),
    ("extract_grid4", _extracted(["doc"], _EXTRACT_COLS), ORACLE_GRID4),
    ("extract_fin_grid", _extracted(["fin"], _EXTRACT_COLS), ORACLE_FIN_GRID),
    ("extract_dyn_grid", _extracted(["dyn"], (*_EXTRACT_COLS, "num_md5")), ORACLE_DYN_GRID),
    ("dataset_grid", q_dataset_grid, ORACLE_DATASET_GRID),
    # the fixture corpus's professional family (indent hierarchy +
    # header-last bug) stays byte-pinned in pytest (golden `pro`)
    ("extract_fixture_professional", _extracted(["pro"], _EXTRACT_COLS), ORACLE_PRO_GRID),
    ("extract_fixture_boiler", _extracted(["boiler"], _EXTRACT_COLS), ORACLE_BOILER),
    ("extract_mixed_dispatch", q_extract_mixed_dispatch, _oracle_mixed_dispatch()),
    # per-row ARGS dispatch: table_bbox crop, header_regexes selection and
    # expected_n_cols coercion, one variant per row, from one documents scan
    ("extract_args_dispatch", _extracted(
        ["crop", "hdr", "cols"], ("doc_id", "variant", "n_rows", "n_cols", "csv_md5")
    ), ORACLE_ARGS_DISPATCH),
    # the transformers layout's heuristic path; its fallback cascade
    # (spatial grid) stays pytest-pinned
    ("extract_transformers", _extracted(["tf"], _EXTRACT_COLS), _grid4_oracle("tf")),
    ("warc_roundtrip", _roundtrip("warc"), _oracle_roundtrip("warc")),
    ("giants_resume", q_giants_resume, ORACLE_GIANTS_RESUME),
    ("bloom_dedup", q_bloom_dedup, _oracle_bloom_dedup()),
    ("curate_incremental", q_curate_incremental, _oracle_curate_incremental()),
    ("token_count", _over(_docs, textstats.token_count), ORACLE_TOKEN_COUNT),
    ("token_count_bpe", _over(_docs, textstats.token_count_bpe), ORACLE_TOKEN_COUNT_BPE),
    ("text_quality", _over(_docs_f, textstats.text_quality), ORACLE_TEXT_QUALITY),
    ("lang_id", _over(_docs_f, textstats.lang_id), _oracle_lang_id()),
    ("fingerprint", _over(_docs, textstats.fingerprint), ORACLE_FINGERPRINT),
    ("pii_scrub", q_pii_scrub, _oracle_pii_scrub()),
    ("vocab_topk", _over(_docs, textstats.vocab_topk), ORACLE_VOCAB_TOPK),
    ("search_topk", _over(_docs, textstats.search_topk), _oracle_search_topk()),
    ("repetition_stats", _over(_docs_f, textstats.repetition_stats), _oracle_repetition()),
    ("source_stats", _over(_docs, textstats.source_stats), ORACLE_SOURCE_STATS),
    ("decontaminate", _over(_docs_f, _scoped(curation.decontaminate, "decontaminate")),
     _oracle_decontaminate()),
    ("sample_stratified", _over(_docs, curation.sample_stratified), ORACLE_SAMPLE_STRATIFIED),
    ("url_dedup", q_url_dedup, ORACLE_URL_DEDUP),
    ("line_dedup", _over(_docs_f, dedup.line_dedup), ORACLE_LINE_DEDUP),
    ("line_dedup_clean", _over(_docs_f, dedup.line_dedup_clean), ORACLE_LINE_DEDUP_CLEAN),
    ("corpus_diff", q_corpus_diff, ORACLE_CORPUS_DIFF),
    ("pack_sequences", _over(_docs, curation.pack_sequences), ORACLE_PACK_SEQUENCES),
    ("curate", _over(_docs_f, curation.curate), _oracle_curate()),
    ("curate_neardup", _over(_docs_f, _scoped(curation.curate_neardup, "curate_neardup")),
     _oracle_curate_neardup()),
    ("pipeline_full", _over(_docs_f, _scoped(curation.curate_pipeline, "pipeline_full")),
     _oracle_pipeline_full()),
    ("pipeline_full_v2", q_pipeline_full_v2, _oracle_pipeline_v2()),
    ("dedup_exact", _over(_docs, dedup.exact_dedup), ORACLE_DEDUP_EXACT),
    ("ngram_jaccard", _over(_docs, dedup.ngram_jaccard_pairs), ORACLE_NGRAM_JACCARD),
    ("minhash_lsh", _over(_docs_f, dedup.minhash_lsh_pairs), ORACLE_MINHASH_LSH),
    ("lsh_bucket_stats", _over(_docs_f, dedup.lsh_bucket_stats), ORACLE_LSH_BUCKET_STATS),
    ("dedup_clusters", _over(_docs_f, _scoped(dedup.dedup_clusters, "dedup_clusters")),
     _oracle_dedup_clusters()),
    ("simhash64", q_simhash64, _oracle_simhash_hash("simhash64")),
    ("simhash_pairs", _over(_docs_f, dedup.simhash_pairs), _oracle_simhash_pairs()),
    ("simhash_bucket_stats", _over(_docs_f, dedup.simhash_bucket_stats), ORACLE_SIMHASH_BUCKET_STATS),
    ("dedup_embedding", _over(_emb_f, similarity.cosine_dup_pairs), ORACLE_DEDUP_EMBEDDING),
    ("similarity_topk", _over(_emb_f, similarity.brute_force_topk), ORACLE_SIMILARITY_TOPK),
)


def queries() -> dict[str, Query]:
    return {name: q for name, q, _ in _REGISTRY}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, _, sql in _REGISTRY}
