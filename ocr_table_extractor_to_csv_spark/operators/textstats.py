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
"""

from __future__ import annotations

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


def _stop_hits(toks: Column, lang: str) -> Column:
    arr = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(toks, lambda x: F.array_contains(arr, x)))


def quality_columns(text: Column) -> dict:
    """The quality formula as named Column expressions (single spec shared
    by text_quality and curation.curate)."""
    toks = tokens_col(text)
    n_tokens = F.size(toks)
    n_chars = F.length(text)
    punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", ""))
    punct_ratio = punct / F.greatest(F.lit(1), n_chars)
    stop_ratio = _stop_hits(toks, "en") / F.greatest(F.lit(1), n_tokens)
    avg_tok = F.aggregate(
        toks, F.lit(0), lambda acc, x: acc + F.length(x)
    ) / F.greatest(F.lit(1), n_tokens)
    quality = F.least(F.lit(1.0), n_tokens / F.lit(50.0)) - punct_ratio
    return {
        "n_chars_calc": n_chars,
        "n_tokens": n_tokens,
        "avg_token_len": F.round(avg_tok, 5),
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
    hits = {lang: _stop_hits(toks, lang) for lang in STOPWORDS}
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
    hits = {lang: _stop_hits(toks, lang) for lang in STOPWORDS}
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


def pii_scrub(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_emails, n_ips, n_phones, scrubbed_md5) — count and redact
    emails / IPv4s / +international phones.  Pure JVM regex (codegen'd, one
    scan, no shuffle): at 10^9 docs this is a map-only pass."""
    t = F.col(text_col)
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
    grams = F.when(
        k >= 2,
        F.zip_with(
            F.slice(F.col("ts"), 1, k - 1),
            F.slice(F.col("ts"), 2, k - 1),
            lambda a, b: F.concat(a, F.lit("_"), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
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


def vocab_topk(documents: DataFrame, k: int = 100) -> DataFrame:
    """Corpus vocabulary statistics: the top-``k`` tokens by term frequency
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
        .limit(k)
    )


def search_topk(
    documents: DataFrame, query_terms, k: int = 20
) -> DataFrame:
    """Keyword search scoring: top-``k`` documents for a bag of query terms
    — (doc_id, n_hits, score), score = sum over matched terms of
    tf(term, doc) * (N + 1) / (df(term) + 1).

    The idf is the RATIONAL variant (not ln): every factor is an exact-int
    ratio evaluated once in double, so the score is bit-identical across
    engines (ln is not correctly-rounded and may differ in the last ulp
    between libm implementations — a silent cross-engine tie-break hazard).

    Scale shape: tokens are filtered to the query bag BEFORE any shuffle
    (the explode emits only matching terms), df is a tiny per-term
    aggregate joined back broadcast-style, and the final top-k is a
    distributed orderBy + limit."""
    terms = sorted(set(query_terms))
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
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


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


def mix_plan(
    documents: DataFrame,
    budget_tokens: int = 1_000_000,
    weights: dict | None = None,
) -> DataFrame:
    """Training-mix planning: per-source sampling rates that hit a token
    ``budget_tokens`` under target mix ``weights`` — (source,
    available_tokens, weight, target_tokens, sample_rate, epochs) ordered
    by source.

    ``weights`` maps source -> target fraction of the budget; None means
    uniform over observed sources.  Sources with zero weight stay in the
    output at rate 0 (excluded visibly, never silently dropped), and a
    WEIGHTED source with no corpus rows surfaces too (full-outer join of
    the weight keys against observed sources: available_tokens 0, rate 0,
    a visibly unmeetable target — r5 advice: its budget slice must never
    vanish silently).
    ``sample_rate`` = min(1, target/available) is what you pass to a
    deterministic sampler (``sample_stratified``'s md5-u rule);
    ``epochs`` = target/available > 1 flags UPSAMPLING (the source must
    repeat to meet its target — a real mix-planning decision, surfaced
    not clamped).  A source with ZERO available tokens (all-empty docs)
    gets rate 0 and NULL epochs — guarded division, not an ANSI
    divide-by-zero crash; a nonzero weight on such a source is thereby
    visibly unmeetable (target > 0, rate 0).

    Scale shape: one corpus pass (integer token sums, map-side partials)
    reduces to one row per source; the planning arithmetic runs on that
    bounded frame (sources are human-scale — thousands at most) via a
    broadcast of the single-row totals.  All divisions are IEEE double
    ops in a fixed order, so the DuckDB oracle is bit-identical.
    """
    q = quality_columns(F.col("text"))
    per_source = (
        documents.select("source", q["n_tokens"].alias("n_tokens"))
        .groupBy("source")
        .agg(F.sum("n_tokens").alias("available_tokens"))
    )
    if weights is None:
        # the totals join exists only for the uniform default; explicit
        # weights keep the plan a single aggregate
        totals = per_source.agg(F.count("*").alias("_n_sources"))
        planned = per_source.crossJoin(F.broadcast(totals))
        weight = F.lit(1.0) / F.col("_n_sources")
    else:
        # weight keys outer-joined so absent-but-weighted sources surface
        # with available_tokens 0; both sides are bounded (one row per
        # source / per weight key), so the full-outer shuffle is trivial
        wkeys = documents.sparkSession.createDataFrame(
            [(str(s),) for s in sorted(weights)], "source string"
        )
        planned = per_source.join(wkeys, "source", "full_outer").select(
            "source",
            F.coalesce(F.col("available_tokens"), F.lit(0).cast("long")).alias(
                "available_tokens"
            ),
        )
        weight = F.lit(0.0)
        for src, w in sorted(weights.items()):
            weight = F.when(F.col("source") == src, F.lit(float(w))).otherwise(weight)
    target = F.lit(float(budget_tokens)) * weight
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


def quality_classifier(
    documents: DataFrame,
    n_buckets: int = QC_BUCKETS,
    train_mod: int = QC_TRAIN_MOD,
    threshold: float = QC_THRESHOLD,
) -> DataFrame:
    """Train a hashed-token quality classifier ON THE CLUSTER and score the
    corpus with it — the distill-the-heuristic-gate step of a real corpus
    build (a cheap model learned from a rule-labeled split, then applied
    everywhere; the CCNet / fasttext-quality-classifier shape).

    Deterministic, integer-exact spec (fully SQL-expressible, so the
    DuckDB oracle replays training AND scoring bit-for-bit):

      label(doc)  = 1 iff the shared heuristic ``quality_score`` (rounded
                    spec, identical to ``text_quality``) >= ``threshold``;
      train split = doc_id % train_mod == 0;
      bucket(tok) = first-32-bits-of-md5(tok) % n_buckets;
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

    Scale shape: training is one groupBy over <= n_buckets keys with
    map-side partials; the stats table (<= n_buckets rows) and the 1-row
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
    return score_quality(
        documents,
        train_quality_model(documents, n_buckets, train_mod, threshold),
        n_buckets=n_buckets,
        threshold=threshold,
    )


def _qc_token_rows(
    documents: DataFrame, n_buckets: int, threshold: float
) -> DataFrame:
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
        (q["quality_score"] >= F.lit(threshold)).cast("int").alias("label"),
        tokens_col(F.col("text")).alias("_toks"),
    )
    return labeled.select(
        "doc_id", "label", F.explode_outer("_toks").alias("tok")
    ).where(F.col("tok").isNotNull()).withColumn(
        "bucket",
        F.pmod(
            F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long"),
            F.lit(n_buckets),
        ).cast("int"),
    )


def train_quality_model(
    documents: DataFrame,
    n_buckets: int = QC_BUCKETS,
    train_mod: int = QC_TRAIN_MOD,
    threshold: float = QC_THRESHOLD,
) -> DataFrame:
    """(bucket, pos, cnt) — the classifier's ENTIRE model, a <= n_buckets
    row table.  The production shape is train ONCE, write this table,
    then ``score_quality`` every corpus/delta against it — per-run cost
    drops to the scoring scan alone (the composed ``quality_classifier``
    re-trains inline per call, fine for one-shots, ~2x the scans for
    repeated use — measured 8.8 s vs a one-scan gate's ~4 s at sf0.1)."""
    train = _qc_token_rows(documents, n_buckets, threshold).where(
        F.pmod(F.col("doc_id"), F.lit(train_mod)) == 0
    )
    return train.groupBy("bucket").agg(
        F.sum("label").cast("long").alias("pos"),
        F.count("*").alias("cnt"),
    )


def score_quality(
    documents: DataFrame,
    stats: DataFrame,
    n_buckets: int = QC_BUCKETS,
    threshold: float = QC_THRESHOLD,
) -> DataFrame:
    """Score ``documents`` against a trained (bucket, pos, cnt) model —
    same output contract as ``quality_classifier``.  ``n_buckets`` and
    ``threshold`` must match the values the model was trained with
    (bucket ids and the reported ``label`` column depend on them)."""
    tok_rows = _qc_token_rows(documents, n_buckets, threshold)
    # the global rate is the column sum of the bounded stats table — NOT a
    # second aggregate over the corpus token stream (r6 review: that was a
    # third full corpus scan for two numbers derivable from <= n_buckets
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


def mix_sample(
    documents: DataFrame,
    budget_tokens: int = 1_000_000,
    weights: dict | None = None,
    salt: str = "mix",
) -> DataFrame:
    """Materialize a ``mix_plan``: the actual training-mix sample as
    (doc_id, source, n_tokens, copy) rows, with DETERMINISTIC upsampling —
    closing the plan -> corpus loop (the step a trainer actually reads).

    Per document: u = first-32-bits of md5('{salt}:' || doc_id) / 2^32
    (bit-exact uniform in every engine — power-of-two division, the
    ``sample_stratified`` rule); with e = the plan's rounded ``epochs``
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
    plan = mix_plan(documents, budget_tokens, weights).select("source", "epochs")
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{salt}:"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(float(2**32))
    )
    docs = documents.select(
        "doc_id",
        "source",
        F.size(tokens_col(F.col("text"))).alias("n_tokens"),
        u.alias("_u"),
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


def gopher_rules(
    documents: DataFrame,
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_line_ratio: float = 0.9,
    max_ellipsis_line_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Gopher rule-based document quality gates (Rae et al. 2021, A1.1)
    as one map-only pass: per-document signals, one boolean per rule, and
    the conjunction verdict ``keep``.

    The defaults are the paper's published thresholds.  Signals are the
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
    mean_len = (
        F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x)) / d_words
    )
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
    stop_arr = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    stop_hits = F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x)))

    word_count_ok = (n_words >= min_words) & (n_words <= max_words)
    mean_len_ok = (mean_len >= min_mean_word_len) & (mean_len <= max_mean_word_len)
    symbol_ok = symbol_ratio <= max_symbol_ratio
    bullet_ok = bullet_ratio <= max_bullet_line_ratio
    ellipsis_ok = ellipsis_ratio <= max_ellipsis_line_ratio
    alpha_ok = alpha_ratio >= min_alpha_word_ratio
    stop_ok = stop_hits >= min_stop_hits

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
