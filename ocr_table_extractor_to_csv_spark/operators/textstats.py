"""Text-analysis operators for a training-data pipeline over ``documents``.

All pure built-in ``pyspark.sql.functions`` column expressions — JVM-side,
whole-stage-codegen, no Python in the hot path.  Each operator has an exact
ANSI-SQL twin (the DuckDB oracle in __spark_entry__.py); formulas are frozen
here as the single spec both sides implement.

Specs (shared with the SQL oracles — change together or not at all):
  tokens(text)   = split(trim(lower(text)), '\\s+'); [] when trim = ''
  fingerprint    = md5(trim(regexp_replace(lower(text), '\\s+', ' ')))
  punct_ratio    = punct_chars / max(1, n_chars);  punct = [.,;:!?]
  stopword_ratio = hits(lang stop set) / max(1, n_tokens)
  quality_score  = round(least(1, n_tokens/50) - punct_ratio, 5)
  lang_id        = argmax over per-language stopword hits, 'und' on ties/zero
  md5_int(s, a, n) = int(substr(md5(s), a, n), 16)  (a 1-based, as SQL)
  u(prefix)      = md5_int(prefix || doc_id, 1, 8) / 2^32
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# deliberately tiny, frozen stopword sets (shared with the SQL oracle)
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "it", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "una", "los", "por"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "zu", "mit", "von"],
    "fr": ["le", "la", "les", "et", "de", "un", "une", "est", "que", "pour"],
}


def tokens_col(text: Column) -> Column:
    t = F.trim(F.lower(text))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def md5_int_col(col: Column, start: int, n_hex: int) -> Column:
    """The integer of the ``n_hex`` md5 hex chars of ``col`` from ``start``
    (1-based) — the one hash spec of every md5-keyed operator.  Hashing is
    md5-based (not xxhash64), so each operator has a bit-identical DuckDB
    twin: ``CAST('0x' || substr(md5(s), start, n_hex) AS BIGINT)``.  At
    most 15 hex chars (60 bits) keeps the value positive in a BIGINT on
    both engines; the min-hash and sketch keys take chars 1-15, the 32-bit
    keys chars 1-8 (and 9-16 for simhash's high word)."""
    return F.conv(F.substring(F.md5(col), start, n_hex), 16, 10).cast("long")


def md5_int(s: str, start: int, n_hex: int) -> int:
    """``md5_int_col`` on the driver, for constants derived from the same
    spec (the MinHash XOR family, the LSH hyperplanes)."""
    return int(hashlib.md5(s.encode()).hexdigest()[start - 1 : start - 1 + n_hex], 16)


def uniform_col(prefix: str) -> Column:
    """u = md5_int(prefix || doc_id, 1, 8) / 2^32, a uniform draw in [0, 1)
    per document: reproducible on any cluster, partitioning or retry
    (rand() is none of those), and bit-exact in every engine because the
    division is by a power of two."""
    key = F.concat(F.lit(prefix), F.col("doc_id").cast("string"))
    return md5_int_col(key, 1, 8) / F.lit(float(2**32))


def token_count(documents: DataFrame) -> DataFrame:
    return documents.select(
        "doc_id", F.size(tokens_col(F.col("text"))).alias("n_tokens")
    )


# GPT-2-style pretokenizer approximation (contractions, space-prefixed word /
# number / punctuation runs) — the "BPE-ish" token ESTIMATOR a data pipeline
# uses for budget accounting before real tokenization.  Kept to a regex
# subset that Java (Spark) and RE2 (DuckDB) treat identically: whitespace is
# an EXPLICIT class, not \s (Java's \s includes vertical tab, RE2's does
# not — a real divergence on OCR-ish text).
BPE_TOKEN_RE = r"'(?:[sdmt]|ll|ve|re)| ?[a-z]+| ?[0-9]+| ?[^ \t\n\r\f\x0Ba-z0-9']+"


def token_count_bpe(documents: DataFrame) -> DataFrame:
    n = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(BPE_TOKEN_RE), F.lit(0))
    )
    return documents.select("doc_id", n.alias("n_bpe_tokens"))


def _stop_hits(toks: Column, words) -> Column:
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda x: F.array_contains(arr, x)))


def _mean_token_len(toks: Column) -> Column:
    """Summed token lengths over max(1, n_tokens), unrounded."""
    n_chars = F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x))
    return n_chars / F.greatest(F.lit(1), F.size(toks))


def gram_chain(toks: Column, n: int) -> Column:
    """'_'-joined n-grams of a token-array column as a zip_with chain over
    n SHIFTED slices — O(tokens) with one pass, vs the naive
    transform(sequence, i -> array_join(slice(toks, i, n))) which
    re-slices and re-joins per position (O(tokens x n) + an allocation
    per gram): measured 5.2x faster at sf0.1 with byte-identical output.
    Returns the raw gram array; docs with < n tokens yield a
    negative-length slice, so CALLERS must gate on size(toks) >= n and
    pick their own short-doc fallback (``dedup.shingles`` degrades to the
    whole-doc join, ``repetition_stats`` and ``dedup.substring_anchors``
    emit nothing).  The ONE gram builder of every n-gram operator."""
    m = F.size(toks) - (n - 1)  # number of n-grams
    grams = F.slice(toks, n, m)
    for j in range(n - 1, 0, -1):
        grams = F.zip_with(
            F.slice(toks, j, m), grams, lambda a, b: F.concat(a, F.lit("_"), b)
        )
    return grams


def quality_columns(text: Column) -> dict:
    """The quality formula as named Column expressions (single spec shared
    by text_quality and curation.curate)."""
    toks = tokens_col(text)
    n_tokens = F.size(toks)
    n_chars = F.length(text)
    punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", ""))
    punct_ratio = punct / F.greatest(F.lit(1), n_chars)
    stop_ratio = _stop_hits(toks, STOPWORDS["en"]) / F.greatest(F.lit(1), n_tokens)
    quality = F.least(F.lit(1.0), n_tokens / F.lit(50.0)) - punct_ratio
    return {
        "n_chars_calc": n_chars,
        "n_tokens": n_tokens,
        "avg_token_len": F.round(_mean_token_len(toks), 5),
        "punct_ratio": F.round(punct_ratio, 5),
        "stopword_ratio": F.round(stop_ratio, 5),
        "quality_score": F.round(quality, 5),
    }


def text_quality(documents: DataFrame) -> DataFrame:
    cols = quality_columns(F.col("text"))
    return documents.select(
        "doc_id", *[c.alias(name) for name, c in cols.items()]
    )


def lang_pred_col(text: Column) -> Column:
    """argmax-over-stopword-hits language prediction (single spec shared by
    lang_id and curation.curate)."""
    toks = tokens_col(text)
    hits = {lang: _stop_hits(toks, ws) for lang, ws in STOPWORDS.items()}
    pred = F.lit("und")
    # deterministic priority order on ties: declared language order, but only
    # a STRICT maximum wins; ties (incl. all-zero) stay 'und'
    for lang in STOPWORDS:
        others = [hits[o] for o in STOPWORDS if o != lang]
        pred = F.when(
            (hits[lang] > F.lit(0)) & (hits[lang] > F.greatest(*others)), F.lit(lang)
        ).otherwise(pred)
    return pred


def lang_id(documents: DataFrame) -> DataFrame:
    toks = tokens_col(F.col("text"))
    hits = {lang: _stop_hits(toks, ws) for lang, ws in STOPWORDS.items()}
    best = F.greatest(*hits.values())
    return documents.select(
        "doc_id",
        *[hits[lang].alias(f"hits_{lang}") for lang in STOPWORDS],
        best.alias("best_hits"),
        lang_pred_col(F.col("text")).alias("lang_pred"),
    )


def norm_text_col(text: Column) -> Column:
    """Whitespace-normalized lowercase text (the dedup fingerprint base)."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def fingerprint(documents: DataFrame) -> DataFrame:
    return documents.select("doc_id", F.md5(norm_text_col(F.col("text"))).alias("fp"))


# ---------------------------------------------------------------------------
# PII scrubbing — the redaction pass a training pipeline runs before text
# ships anywhere.  Regexes kept to the Java/RE2-identical subset (explicit
# classes, no \s, no lookaround) so the DuckDB oracle matches byte-for-byte.
# Replacement order is part of the spec: emails, then IPs, then phones.
# ---------------------------------------------------------------------------

PII_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_IP_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PII_PHONE_RE = r"\+[0-9][0-9 ()-]{6,}[0-9]"


def pii_scrub(documents: DataFrame) -> DataFrame:
    """(doc_id, n_emails, n_ips, n_phones, scrubbed_md5) — count and redact
    emails / IPv4s / +international phones.  Pure JVM regex (codegen'd, one
    scan, no shuffle): at 10^9 docs this is a map-only pass."""
    t = F.col("text")
    n_emails = F.regexp_count(t, F.lit(PII_EMAIL_RE))
    scrubbed = F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>")
    n_ips = F.regexp_count(scrubbed, F.lit(PII_IP_RE))
    scrubbed = F.regexp_replace(scrubbed, PII_IP_RE, "<IP>")
    n_phones = F.regexp_count(scrubbed, F.lit(PII_PHONE_RE))
    scrubbed = F.regexp_replace(scrubbed, PII_PHONE_RE, "<PHONE>")
    return documents.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_ips.alias("n_ips"),
        n_phones.alias("n_phones"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    )


def _run_stats(arr: Column) -> Column:
    """struct(best, uniq) over a SORTED array: longest equal-run length and
    number of distinct values — one JVM fold, no explode, no shuffle."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("cur"),
        F.lit(0).cast("long").alias("best"),
        F.lit(0).cast("long").alias("uniq"),
    )

    def step(acc, x):
        is_new = acc["prev"].isNull() | (x != acc["prev"])
        cur = F.when(is_new, F.lit(1).cast("long")).otherwise(acc["cur"] + 1)
        return F.struct(
            x.alias("prev"),
            cur.alias("cur"),
            F.greatest(acc["best"], cur).alias("best"),
            F.when(is_new, acc["uniq"] + 1).otherwise(acc["uniq"]).alias("uniq"),
        )

    return F.aggregate(F.array_sort(arr), init, step)


def repetition_stats(documents: DataFrame) -> DataFrame:
    """Gopher-style repetition quality signals:
    (doc_id, n_tokens, top_token_frac, top_bigram_frac, unique_token_frac).

    top_token_frac   = occurrences of the most frequent token / n_tokens
    top_bigram_frac  = occurrences of the most frequent word 2-gram / (n_tokens - 1)
    unique_token_frac = distinct tokens / n_tokens
    (0.0 for degenerate sizes; all ratios rounded to 5.)

    Scale shape: MAP-ONLY — per-doc array_sort + one JVM aggregate fold
    per signal (longest equal-run = top count on a sorted array), so
    nothing shuffles at all.  The naive explode -> groupBy(doc, token)
    formulation ships every distinct (doc, token) pair across the wire
    (~10^12 rows at 100 TB); the oracle keeps that relational formulation
    (values are identical by definition), the engine keeps the map-only
    plan (plan-pinned: zero Exchange)."""
    toks = tokens_col(F.col("text"))
    base = documents.select("doc_id", toks.alias("ts"))
    k = F.size(F.col("ts"))
    grams = F.when(k >= 2, gram_chain(F.col("ts"), 2)).otherwise(
        F.array().cast("array<string>")
    )
    stats = base.select(
        "doc_id",
        k.alias("n"),
        _run_stats(F.col("ts")).alias("t"),
        _run_stats(grams).alias("b"),
    )
    n = F.col("n")
    return stats.select(
        "doc_id",
        n.alias("n_tokens"),
        F.round(
            F.when(n > 0, F.col("t.best") / n).otherwise(F.lit(0.0)), 5
        ).alias("top_token_frac"),
        F.round(
            F.when(n > 1, F.col("b.best") / (n - 1)).otherwise(F.lit(0.0)), 5
        ).alias("top_bigram_frac"),
        F.round(
            F.when(n > 0, F.col("t.uniq") / n).otherwise(F.lit(0.0)), 5
        ).alias("unique_token_frac"),
    )


VOCAB_TOPK = 100  # vocab_topk's k
SEARCH_TOPK = 20  # search_topk's k
SEARCH_TERMS = ("data", "join", "scan", "vector")  # search_topk's query bag


def vocab_topk(documents: DataFrame) -> DataFrame:
    """Corpus vocabulary statistics: the top-``VOCAB_TOPK`` tokens by term frequency
    — (token, tf, df) ordered (tf DESC, token ASC; the tie rule makes the
    k-boundary deterministic).

    Scale shape: explode -> ONE groupBy(token) computing tf and df together
    (map-side partial agg; all of a doc's tokens are co-partitioned so the
    distinct-doc side combines locally), then a distributed TakeOrdered
    (orderBy + limit — never a single-partition window)."""
    toks = tokens_col(F.col("text"))
    return (
        documents.select("doc_id", F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(
            F.count("*").alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
        .orderBy(F.desc("tf"), F.asc("token"))
        .limit(VOCAB_TOPK)
    )


def search_topk(documents: DataFrame) -> DataFrame:
    """Keyword search scoring: top-``SEARCH_TOPK`` documents for the query
    bag ``SEARCH_TERMS`` — (doc_id, n_hits, score), score = sum over matched terms of
    tf(term, doc) * (N + 1) / (df(term) + 1).

    The idf is the RATIONAL variant (not ln): every factor is an exact-int
    ratio evaluated once in double, so the score is bit-identical across
    engines (ln is not correctly-rounded and may differ in the last ulp
    between libm implementations — a silent cross-engine tie-break hazard).

    Scale shape: tokens are filtered to the query bag BEFORE any shuffle
    (the explode emits only matching terms), df is a tiny per-term
    aggregate joined back broadcast-style, and the final top-k is a
    distributed orderBy + limit."""
    terms = sorted(set(SEARCH_TERMS))
    toks = tokens_col(F.col("text"))
    matches = documents.select(
        "doc_id",
        F.explode(
            F.filter(toks, lambda x: x.isin(terms))
        ).alias("term"),
    )
    tf = matches.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = matches.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = documents.count()
    per_term = F.col("tf") * (F.lit(float(n_docs + 1)) / (F.col("df") + 1))
    # the per-doc score folds term contributions IN TERM ORDER (array_sort
    # on (term, val) structs, then a left-to-right aggregate): a plain
    # F.sum over doubles is partition-order dependent, which would be a
    # silent cross-engine hash divergence for docs matching >= 3 terms
    scored = (
        tf.join(F.broadcast(df), "term")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_hits"),
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct(F.col("term"), per_term.alias("val")))
                ),
                F.lit(0.0),
                lambda acc, s: acc + s["val"],
            ).alias("raw_score"),
        )
        .select("doc_id", "n_hits", F.round("raw_score", 5).alias("score"))
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(SEARCH_TOPK)


def source_stats(documents: DataFrame) -> DataFrame:
    """Per-source corpus rollup for mix planning: (source, n_docs,
    total_tokens, total_chars, min_quality, max_quality).  Deliberately
    ONLY order-independent aggregates (integer sums, min/max) so the result
    is exactly reproducible under any partitioning — an avg of doubles
    would be partition-order dependent."""
    q = quality_columns(F.col("text"))
    scored = documents.select(
        "source",
        q["n_tokens"].alias("n_tokens"),
        F.length("text").alias("n_chars"),
        q["quality_score"].alias("quality_score"),
    )
    return scored.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.min("quality_score").alias("min_quality"),
        F.max("quality_score").alias("max_quality"),
    )


# mix_plan's target: source -> fraction of a MIX_BUDGET-token budget
MIX_WEIGHTS = {"src0": 0.5, "src1": 0.3, "src2": 0.15, "src_licensed": 0.05}
MIX_BUDGET = 10_000


def mix_plan(documents: DataFrame) -> DataFrame:
    """Training-mix planning: per-source sampling rates that hit a token
    budget of ``MIX_BUDGET`` under the target mix ``MIX_WEIGHTS`` —
    (source, available_tokens, weight, target_tokens, sample_rate, epochs)
    ordered by source.

    Sources with zero weight stay in the output at rate 0 (excluded
    visibly, never silently dropped), and a WEIGHTED source with no corpus
    rows surfaces too (available_tokens 0, rate 0, a visibly unmeetable
    target — its budget slice must never vanish silently).
    ``sample_rate`` = min(1, target/available) is what you pass to a
    deterministic sampler (``uniform_col``);
    ``epochs`` = target/available > 1 flags UPSAMPLING (the source must
    repeat to meet its target — a real mix-planning decision, surfaced
    not clamped).  A source with ZERO available tokens (all-empty docs)
    gets rate 0 and NULL epochs — guarded division, not an ANSI
    divide-by-zero crash; a nonzero weight on such a source is thereby
    visibly unmeetable (target > 0, rate 0).

    Scale shape: one corpus pass (integer token sums, map-side partials)
    plus one zero-token row per weighted source reduces to one row per
    source in ONE aggregate — no join; sources are human-scale (thousands
    at most).  All divisions are IEEE double ops in a fixed order, so the
    DuckDB oracle is bit-identical.
    """
    wkeys = documents.sparkSession.createDataFrame(
        [(s, 0) for s in sorted(MIX_WEIGHTS)], "source string, n_tokens int"
    )
    planned = (
        documents.select("source", F.size(tokens_col(F.col("text"))).alias("n_tokens"))
        .unionByName(wkeys)
        .groupBy("source")
        .agg(F.sum("n_tokens").alias("available_tokens"))
    )
    weight = F.lit(0.0)
    for src, w in sorted(MIX_WEIGHTS.items()):
        weight = F.when(F.col("source") == src, F.lit(float(w))).otherwise(weight)
    target = F.lit(float(MIX_BUDGET)) * weight
    ratio = F.when(
        F.col("available_tokens") > 0, target / F.col("available_tokens")
    )
    return (
        planned.select(
            "source",
            "available_tokens",
            F.round(weight, 6).alias("weight"),
            F.round(target, 2).alias("target_tokens"),
            # NB gate on available, not coalesce(least(...)): both engines'
            # least() SKIPS nulls, so least(1.0, NULL) would be 1.0 and an
            # empty source would silently get rate 1.0 instead of 0.0
            F.when(
                F.col("available_tokens") > 0,
                F.round(F.least(F.lit(1.0), ratio), 6),
            ).otherwise(F.lit(0.0)).alias("sample_rate"),
            F.round(ratio, 6).alias("epochs"),
        )
        .orderBy("source")
    )


# --- trained quality classifier (hashed-token vote model) -------------------

QC_BUCKETS = 1024      # hashed feature space (fasttext-style bucket trick)
QC_TRAIN_MOD = 5       # deterministic train split: doc_id % mod == 0
QC_THRESHOLD = 0.9     # heuristic quality_score cut that defines the label
                       # (0.5 is degenerate on this corpus: median quality 1.0)


def quality_classifier(documents: DataFrame) -> DataFrame:
    """Train a hashed-token quality classifier ON THE CLUSTER and score the
    corpus with it — the distill-the-heuristic-gate step of a real corpus
    build (a cheap model learned from a rule-labeled split, then applied
    everywhere; the CCNet / fasttext-quality-classifier shape).

    Deterministic, integer-exact spec (fully SQL-expressible, so the
    DuckDB oracle replays training AND scoring bit-for-bit):

      label(doc)  = 1 iff the shared heuristic ``quality_score`` (rounded
                    spec, identical to ``text_quality``) >= ``QC_THRESHOLD``;
      train split = doc_id % QC_TRAIN_MOD == 0;
      bucket(tok) = first-32-bits-of-md5(tok) % QC_BUCKETS;
      bucket stats over train token OCCURRENCES: (pos_b, cnt_b); global
                    (gpos, gcnt) over the same stream;
      token vote  = +1 if pos_b * gcnt > gpos * cnt_b (the bucket's
                    positive rate exceeds the global rate — CROSS-
                    MULTIPLIED, free of smoothing bias), -1 if below,
                    0 on equality or unseen bucket.  The products are
                    computed as IEEE DOUBLES on both engines: int64
                    products overflow silently at the 100 TB profile
                    (pos*gcnt ~ 1e22 >> 2^63), while double
                    multiplication is identically rounded in Spark and
                    DuckDB, so parity holds at every scale — and below
                    2^53 (any test/sandbox scale) the doubles ARE the
                    exact integers;
      doc vote    = sum of token votes; pred = vote >= 0.

    No logs (not correctly rounded across libms), no fixed-point ratio
    weights (Laplace smoothing systematically biases sparse buckets
    below any stream-level base rate — measured: a score-vs-base rule
    predicted 2% positive on a 60%-positive corpus).

    Scale shape: training is one groupBy over <= QC_BUCKETS keys with
    map-side partials; the stats table (<= QC_BUCKETS rows) and the 1-row
    global BROADCAST to the scoring pass, so the corpus side is
    explode -> broadcast hash join -> one groupBy(doc_id) — no
    corpus-vs-corpus shuffle.  Empty-token docs emit no rows.

    Honest capability note (mirrors the ANN-recall-on-uniform-embeddings
    result): on THIS near-uniform synthetic vocabulary the label carries
    almost no lexical signal, so held-out agreement sits below the
    majority class (~0.47 at sf0.01) — the pipeline is the deliverable;
    accuracy pays on real corpora.  tests/test_operators.py proves the
    machinery learns a vocabulary-separable label exactly.
    """
    return score_quality(documents, train_quality_model(documents))


def _qc_token_rows(documents: DataFrame) -> DataFrame:
    """(doc_id, label, tok, bucket) — the shared labeled token stream of
    the quality classifier (one spec for training and scoring).

    The label is projected in its OWN select BELOW the explode: a generator
    select keeps sibling expressions in the Project ABOVE the Generate, so
    the (higher-order-function-heavy) quality expression would be
    re-evaluated once per TOKEN row instead of once per document — measured
    16x slower at sf0.1 (guide §1.2 "per-task work"; values identical).

    The explode is ``explode_outer`` + ``tok IS NOT NULL`` (the same rows:
    a token split yields no null elements): a plain ``explode`` makes
    Catalyst infer a ``size(_toks) > 0`` filter below the label projection,
    which computes the token split twice more per document."""
    q = quality_columns(F.col("text"))
    labeled = documents.select(
        "doc_id",
        (q["quality_score"] >= F.lit(QC_THRESHOLD)).cast("int").alias("label"),
        tokens_col(F.col("text")).alias("_toks"),
    )
    return labeled.select(
        "doc_id", "label", F.explode_outer("_toks").alias("tok")
    ).where(F.col("tok").isNotNull()).withColumn(
        "bucket",
        F.pmod(md5_int_col(F.col("tok"), 1, 8), F.lit(QC_BUCKETS)).cast("int"),
    )


def train_quality_model(documents: DataFrame) -> DataFrame:
    """(bucket, pos, cnt) — the classifier's ENTIRE model, a <= QC_BUCKETS
    row table.  The production shape is train ONCE, write this table,
    then ``score_quality`` every corpus/delta against it — per-run cost
    drops to the scoring scan alone (the composed ``quality_classifier``
    re-trains inline per call, fine for one-shots, ~2x the scans for
    repeated use — measured 8.8 s vs a one-scan gate's ~4 s at sf0.1)."""
    train = _qc_token_rows(documents).where(
        F.pmod(F.col("doc_id"), F.lit(QC_TRAIN_MOD)) == 0
    )
    return train.groupBy("bucket").agg(
        F.sum("label").cast("long").alias("pos"),
        F.count("*").alias("cnt"),
    )


def score_quality(documents: DataFrame, stats: DataFrame) -> DataFrame:
    """Score ``documents`` against a trained (bucket, pos, cnt) model —
    same output contract as ``quality_classifier``."""
    tok_rows = _qc_token_rows(documents)
    # the global rate is the column sum of the bounded stats table — NOT a
    # second aggregate over the corpus token stream (r6 review: that was a
    # third full corpus scan for two numbers derivable from <= QC_BUCKETS
    # rows)
    glob = stats.agg(
        F.sum("pos").alias("gpos"),
        F.sum("cnt").alias("gcnt"),
    )
    lhs = F.col("pos").cast("double") * F.col("gcnt").cast("double")
    rhs = F.col("gpos").cast("double") * F.col("cnt").cast("double")
    vote = (
        F.when(F.col("pos").isNull(), F.lit(0))
        .when(lhs > rhs, F.lit(1))
        .when(lhs < rhs, F.lit(-1))
        .otherwise(F.lit(0))
    )
    return (
        tok_rows.join(F.broadcast(stats), "bucket", "left")
        .crossJoin(F.broadcast(glob))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_tokens"),
            F.max("label").alias("label"),
            F.sum(vote).alias("vote"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "label",
            "vote",
            (F.col("vote") >= 0).alias("pred"),
        )
        .orderBy("doc_id")
    )


def mix_sample(documents: DataFrame) -> DataFrame:
    """Materialize a ``mix_plan``: the actual training-mix sample as
    (doc_id, source, n_tokens, copy) rows, with DETERMINISTIC upsampling —
    closing the plan -> corpus loop (the step a trainer actually reads).

    Per document: u = ``uniform_col("mix:")``; with e = the plan's rounded ``epochs``
    for its source, the doc is emitted ``floor(e) + (u < e - floor(e))``
    times (``copy`` = 1..n).  e < 1 reduces to plain u < e subsampling;
    e > 1 emits floor(e) guaranteed copies plus one u-gated partial copy
    — expected token yield = target_tokens per source, exactly the
    plan's contract.  Zero-weight sources emit nothing (e = 0);
    zero-available sources have NULL e and are excluded (nothing to
    emit) — both verdicts visible in ``mix_plan`` itself.

    Scale shape: the plan collapses to one row per source and BROADCASTS
    to the corpus scan (doc side never shuffles); the explode fans out
    at most ceil(e) rows per doc.  Like every sampler here it is
    reproducible on any cluster, partitioning, or retry — rand() is
    none of those.
    """
    plan = mix_plan(documents).select("source", "epochs")
    docs = documents.select(
        "doc_id",
        "source",
        F.size(tokens_col(F.col("text"))).alias("n_tokens"),
        uniform_col("mix:").alias("_u"),
    )
    frac = F.col("epochs") - F.floor(F.col("epochs"))
    n_copies = (
        F.floor(F.col("epochs"))
        + F.when(F.col("_u") < frac, F.lit(1)).otherwise(F.lit(0))
    ).cast("int")
    return (
        docs.join(F.broadcast(plan), "source")
        .withColumn("n_copies", n_copies)
        # guard BEFORE the explode: Spark sequence(1, 0) DESCENDS
        .where(F.col("n_copies") >= 1)
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.explode(F.sequence(F.lit(1), F.col("n_copies"))).alias("copy"),
        )
        .orderBy("doc_id", "copy")
    )


# Gopher's document-quality stop list (Rae et al. 2021, appendix A1.1) —
# deliberately NOT the lang-id STOPWORDS set above: the paper's rule counts
# hits of exactly these eight words.  Frozen, shared with the SQL oracle.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]

# symbol-to-word numerator: '#' or a literal '...' (the paper's two "symbol"
# forms).  Left-to-right non-overlapping matching is identical in Java
# (Spark) and RE2 (DuckDB), so '....' counts one '...' in both engines.
GOPHER_SYMBOL_RE = r"#|\.\.\."
# a bullet line starts (after left-trim) with -, * or the bullet glyph;
# an ellipsis line ends (after right-trim) with '...' or the … glyph
GOPHER_BULLET_RE = r"^[-*•]"
GOPHER_ELLIPSIS_RE = r"(\.\.\.|…)$"
# the paper's published thresholds
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MAX_BULLET_LINE_RATIO = 0.9
GOPHER_MAX_ELLIPSIS_LINE_RATIO = 0.3
GOPHER_MIN_ALPHA_WORD_RATIO = 0.8
GOPHER_MIN_STOP_HITS = 2


def gopher_rules(documents: DataFrame) -> DataFrame:
    """Gopher rule-based document quality gates (Rae et al. 2021, A1.1)
    as one map-only pass: per-document signals, one boolean per rule, and
    the conjunction verdict ``keep``.

    The thresholds are the paper's published ones (``GOPHER_*``).  Signals are the
    paper's: word count bounds, mean-word-length bounds, symbol-to-word
    ratio ('#' / '...'), bullet-start and ellipsis-end line ratios,
    fraction of words with an alphabetic character, and a minimum hit
    count of eight specific stopwords (:data:`GOPHER_STOPWORDS`).

    Flags compare UNROUNDED doubles to the thresholds (both engines do
    the same IEEE division); the reported ratio columns are rounded to
    5 dp only for display/hash stability.

    Scale shape: pure column expressions over one corpus scan — no
    shuffle, no Python.  At 100 TB this is the cheapest content gate in
    the curation ladder and runs first (together with lang-id) before
    any dedup pass; a typical web crawl loses double-digit percent of
    documents here, shrinking every downstream shuffle.

    No reference analogue (the reference curates OCR tables, not web
    text); semantics follow the cited paper.
    """
    toks = tokens_col(F.col("text"))
    n_words = F.size(toks)
    d_words = F.greatest(F.lit(1), n_words).cast("double")
    mean_len = _mean_token_len(toks)
    symbol_ratio = (
        F.size(F.regexp_extract_all(F.col("text"), F.lit(GOPHER_SYMBOL_RE), F.lit(0)))
        / d_words
    )
    # '' splits to [''] in both engines: a doc is always >= 1 line
    lines = F.split(F.col("text"), "\n")
    n_lines = F.greatest(F.lit(1), F.size(lines)).cast("double")
    bullet_ratio = (
        F.size(F.filter(lines, lambda l: F.ltrim(l).rlike(GOPHER_BULLET_RE)))
        / n_lines
    )
    ellipsis_ratio = (
        F.size(F.filter(lines, lambda l: F.rtrim(l).rlike(GOPHER_ELLIPSIS_RE)))
        / n_lines
    )
    alpha_ratio = (
        F.size(F.filter(toks, lambda x: x.rlike("[a-z]"))) / d_words
    )
    stop_hits = _stop_hits(toks, GOPHER_STOPWORDS)

    word_count_ok = (n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS)
    mean_len_ok = (mean_len >= GOPHER_MIN_MEAN_WORD_LEN) & (mean_len <= GOPHER_MAX_MEAN_WORD_LEN)
    symbol_ok = symbol_ratio <= GOPHER_MAX_SYMBOL_RATIO
    bullet_ok = bullet_ratio <= GOPHER_MAX_BULLET_LINE_RATIO
    ellipsis_ok = ellipsis_ratio <= GOPHER_MAX_ELLIPSIS_LINE_RATIO
    alpha_ok = alpha_ratio >= GOPHER_MIN_ALPHA_WORD_RATIO
    stop_ok = stop_hits >= GOPHER_MIN_STOP_HITS

    return documents.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(mean_len, 5).alias("mean_word_len"),
        F.round(symbol_ratio, 5).alias("symbol_ratio"),
        F.round(bullet_ratio, 5).alias("bullet_line_ratio"),
        F.round(ellipsis_ratio, 5).alias("ellipsis_line_ratio"),
        F.round(alpha_ratio, 5).alias("alpha_word_ratio"),
        stop_hits.alias("stop_hits"),
        word_count_ok.alias("word_count_ok"),
        mean_len_ok.alias("mean_len_ok"),
        symbol_ok.alias("symbol_ok"),
        bullet_ok.alias("bullet_ok"),
        ellipsis_ok.alias("ellipsis_ok"),
        alpha_ok.alias("alpha_ok"),
        stop_ok.alias("stop_ok"),
        (
            word_count_ok & mean_len_ok & symbol_ok & bullet_ok
            & ellipsis_ok & alpha_ok & stop_ok
        ).alias("keep"),
    )


# normalize_text's rule chain, applied IN ORDER (the order is part of the
# spec: space-collapse runs after the NBSP fold so folded spaces collapse
# too; newline-trim runs after space-collapse so only single spaces can
# touch a newline).  Every pattern is valid and identical under Java
# regex (Spark) and RE2 (DuckDB): literal unicode chars, character
# classes, bounded quantifiers — no backrefs, no lookaround.  Each entry
# is (pattern, replacement); replacements are literal chars (real
# newlines, not escape sequences), so neither engine's rewrite-escape
# rules are involved.
NORMALIZE_RULES = [
    ("[   ]", " "),            # NBSP family -> space
    ("[‘’‚‛]", "'"),      # curly single quotes
    ("[“”„‟]", '"'),      # curly double quotes
    ("[‒–—―]", "-"),      # figure/en/em/horizontal dash
    ("…", "..."),                        # ellipsis glyph
    ("[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]", ""),  # control chars (keep \t \n \r)
    ("\r\n?", "\n"),                          # CRLF / bare CR -> LF
    ("[ \\t]+", " "),                         # collapse space/tab runs
    (" ?\n ?", "\n"),                         # strip single spaces around newlines
    ("\n{3,}", "\n\n"),                       # cap blank-line runs at one
    ("^\\s+|\\s+$", ""),                      # trim outer whitespace
]


def normalize_text(documents: DataFrame) -> DataFrame:
    """C4/ftfy-style text normalization as one map-only pass: fold unicode
    punctuation look-alikes to ASCII (NBSP, curly quotes, dashes, the
    ellipsis glyph), drop control characters, normalize line endings,
    collapse whitespace runs, cap blank-line runs, and trim — the cleanup
    every web-text pipeline runs between extraction and tokenization so
    that dedup fingerprints and token counts see one spelling of the same
    page.  Rule chain frozen in :data:`NORMALIZE_RULES` (shared with the
    SQL oracle — change together or not at all).

    Returns (doc_id, text_norm, n_chars_raw, n_chars_norm, changed).

    Scale shape: pure sequential ``regexp_replace`` column expressions —
    zero shuffle, zero Python, whole-stage codegen; at 100 TB this fuses
    into the extraction scan for free.  Run BEFORE fingerprint/line_dedup
    so near-identical pages (CRLF vs LF, NBSP vs space) dedup exactly.

    No reference analogue (the reference normalizes table cells, not
    documents — kernel/export.py covers that side); semantics follow C4
    (Raffel et al. 2020) / ftfy-style cleanup.
    """
    norm = F.col("text")
    for pat, rep in NORMALIZE_RULES:
        norm = F.regexp_replace(norm, pat, rep)
    return documents.select(
        "doc_id",
        norm.alias("text_norm"),
        F.length("text").alias("n_chars_raw"),
        F.length(norm).alias("n_chars_norm"),
        (norm != F.col("text")).alias("changed"),
    )
