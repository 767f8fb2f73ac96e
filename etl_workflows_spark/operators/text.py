"""Text-analysis operators for training-data pipelines.

All pure Catalyst expressions (split / higher-order array functions /
md5) — no Python UDFs, so they run inside whole-stage codegen and scale
linearly. Tokenization is whitespace-based to match the corpus; swap
``TOKEN_SPLIT_RE`` for a BPE-ish regex for real text.

These are net-new vs the reference (SURVEY.md §2.7): the reference's text
processing surface is BigQuery SQL, which these Spark expressions mirror.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_workflows_spark.operators.cache import SCRATCH_LEVEL

TOKEN_SPLIT_RE = " "
# Small high-frequency function-word set used for quality/language scoring.
STOPWORDS = ("a", "the", "of", "to", "and")


def tokens(c: Column) -> Column:
    return F.split(c, TOKEN_SPLIT_RE)


def token_count(c: Column) -> Column:
    return F.size(tokens(c))


def distinct_token_count(c: Column) -> Column:
    return F.size(F.array_distinct(tokens(c)))


def stopword_count(c: Column) -> Column:
    return F.size(F.filter(tokens(c), lambda x: x.isin(*STOPWORDS)))


# GPT-2-style pre-tokenizer, restricted to constructs both Java regex and
# RE2 support identically (no lookahead, leftmost-first alternation):
# contraction suffixes, space-prefixed letter/digit runs, punctuation
# runs, residual whitespace. Counts from this track BPE token counts
# closely enough for length-based curation budgets.
BPE_SPLIT_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 \t\n]+| +"


def bpe_tokens(c: Column) -> Column:
    return F.regexp_extract_all(c, F.lit(BPE_SPLIT_RE), 0)


def bpe_token_count(c: Column) -> Column:
    return F.size(bpe_tokens(c))


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document token counts under both tokenizers: whitespace (the
    corpus convention) and the BPE-ish pre-tokenizer (the training-budget
    convention). Pure codegen expressions — two regex passes per doc."""
    return docs.select(
        "doc_id",
        token_count(F.col(text_col)).alias("n_ws_tokens"),
        bpe_token_count(F.col(text_col)).alias("n_bpe_tokens"),
    )


def doc_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document size/diversity statistics."""
    t = F.col(text_col)
    return docs.select(
        "doc_id",
        F.length(t).alias("n_chars"),
        token_count(t).alias("n_tokens"),
        distinct_token_count(t).alias("n_uniq_tokens"),
        (
            (F.length(t) - (token_count(t) - F.lit(1)))
            / token_count(t).cast("double")
        ).alias("avg_token_len"),
    )


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality scoring: length, lexical diversity, stopword ratio.

    Score components are per-row IEEE arithmetic — deterministic across
    engines; no rounding applied.
    """
    t = F.col(text_col)
    n_tok = token_count(t).cast("double")
    uniq_ratio = distinct_token_count(t) / n_tok
    stop_ratio = stopword_count(t) / n_tok
    length_score = F.least(F.lit(1.0), n_tok / F.lit(50.0))
    return docs.select(
        "doc_id",
        uniq_ratio.alias("uniq_ratio"),
        stop_ratio.alias("stop_ratio"),
        (length_score * uniq_ratio).alias("quality"),
    )


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """N-gram-heuristic language ID: function-word density vote.

    With a real multilingual corpus the marker sets are per-language
    character n-grams; this corpus is synthetic English-ish, so the vote
    degenerates to en/unk — the operator shape (per-token set membership,
    argmax over language scores) is what carries to production.
    """
    t = F.col(text_col)
    en_ratio = stopword_count(t) / token_count(t).cast("double")
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        en_ratio.alias("en_marker_ratio"),
        F.when(en_ratio > 0.02, "en").otherwise("unk").alias("pred_lang"),
    )


def token_frequencies(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-level token histogram (explode → count).

    Scale: explode multiplies rows by ~tokens/doc; partial aggregation
    collapses them map-side, so the shuffle carries only the vocabulary.
    """
    return (
        docs.select(F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic document fingerprint: md5 over normalized text."""
    t = F.col(text_col)
    return docs.select(
        "doc_id",
        F.md5(F.lower(F.trim(t))).alias("fp"),
    )

def repetition_signals(
    docs: DataFrame, text_col: str = "text", max_n: int = 3
) -> DataFrame:
    """Gopher/RefinedWeb-style repetition quality signals: for each n in
    2..max_n, the fraction of the document's n-grams taken by its single
    most frequent n-gram. Highly repetitive (boilerplate/spam) documents
    score near 1; diverse text scores near 1/|distinct n-grams|.

    Scale: one explode per n (rows × ~tokens/doc), but partial aggregation
    collapses (doc, gram) counts map-side before the shuffle, so the wire
    carries at most the per-doc distinct-gram cardinality. Joins between
    the per-n results are LEFT joins from the n=2 result on doc_id
    (co-partitioned after the first agg): a doc long enough for bigrams
    but shorter than a higher n keeps its low-n signals with NULLs for
    the unavailable ones — an inner join would drop exactly the short
    spammy docs a repetition gate exists to catch. (Docs with <2 tokens
    have no n-grams at all and legitimately have no row.)
    All JVM-side expressions; no Python UDFs.
    """
    if max_n < 2:
        raise ValueError(f"max_n must be >= 2, got {max_n}")
    toks = docs.select("doc_id", tokens(F.col(text_col)).alias("__t"))
    out = None
    for n in range(2, max_n + 1):
        m = F.size("__t") - (n - 1)
        # n-gram windows from n shifted slices zipped positionally (the
        # non-lambda construction — cf. dedup._shingled's measured win)
        z = F.arrays_zip(*[F.slice(F.col("__t"), j + 1, m) for j in range(n)])
        grams = toks.filter(F.size("__t") >= n).select(
            "doc_id",
            F.explode(z).alias("__z"),
        ).select(
            "doc_id",
            F.concat_ws(
                " ", *[F.col("__z").getField(str(j)) for j in range(n)]
            ).alias("gram"),
        )
        sig = (
            grams.groupBy("doc_id", "gram")
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy("doc_id")
            .agg(
                (F.max("c") / F.sum("c").cast("double")).alias(
                    f"top_{n}gram_ratio"
                )
            )
        )
        out = sig if out is None else out.join(sig, "doc_id", "left")
    return out


def _gate_rules(
    t: Column,
    min_tokens: int,
    max_tokens: int,
    token_len_range: tuple[float, float],
    min_stop_ratio: float,
    min_uniq_ratio: float,
) -> list[tuple[str, Column]]:
    """The quality gate's (rule name, ok) pairs, in evaluation order."""
    n_tok = token_count(t)
    n_tok_d = n_tok.cast("double")
    mean_tok_len = (F.length(t) - (n_tok - F.lit(1))) / n_tok_d
    return [
        ("ok_n_tokens", (n_tok >= min_tokens) & (n_tok <= max_tokens)),
        (
            "ok_token_len",
            (mean_tok_len >= token_len_range[0])
            & (mean_tok_len <= token_len_range[1]),
        ),
        ("ok_stop_ratio", stopword_count(t) / n_tok_d >= min_stop_ratio),
        ("ok_uniq_ratio", distinct_token_count(t) / n_tok_d >= min_uniq_ratio),
    ]


def _all_pass(rules: list[tuple[str, Column]]) -> Column:
    passes = rules[0][1]
    for _, ok in rules[1:]:
        passes = passes & ok
    return passes


def quality_gate_passes(
    text_col: str = "text",
    min_tokens: int = 10,
    max_tokens: int = 100_000,
    token_len_range: tuple[float, float] = (2.0, 12.0),
    min_stop_ratio: float = 0.01,
    min_uniq_ratio: float = 0.2,
) -> Column:
    """``quality_gate``'s ``passes`` as a row-local predicate, for
    filtering a corpus in place: ``docs.filter(quality_gate_passes())``
    keeps exactly the rows whose ``quality_gate`` audit row passes, with
    no join back on ``doc_id`` (and no ``doc_id`` needed)."""
    return _all_pass(
        _gate_rules(
            F.col(text_col),
            min_tokens,
            max_tokens,
            token_len_range,
            min_stop_ratio,
            min_uniq_ratio,
        )
    )


def quality_gate(
    docs: DataFrame,
    text_col: str = "text",
    min_tokens: int = 10,
    max_tokens: int = 100_000,
    token_len_range: tuple[float, float] = (2.0, 12.0),
    min_stop_ratio: float = 0.01,
    min_uniq_ratio: float = 0.2,
) -> DataFrame:
    """Gopher-style rule gate: each document gets per-rule booleans, an
    overall ``passes``, and the first failing rule's name (the audit
    column a curation pipeline logs). Rules, in evaluation order:

    * ``ok_n_tokens`` — token count in [min_tokens, max_tokens]
    * ``ok_token_len`` — mean token length within ``token_len_range``
    * ``ok_stop_ratio`` — stopword fraction >= min_stop_ratio
    * ``ok_uniq_ratio`` — distinct-token fraction >= min_uniq_ratio

    All per-row IEEE arithmetic on integer counts — deterministic across
    engines; one map stage, no shuffle. Not all of it is generated code:
    the stopword count's ``filter`` lambda is a ``CodegenFallback`` that
    Spark evaluates interpreted inside the stage. The rules are shared
    with ``quality_gate_passes`` (the in-place filter form).
    """
    rules = _gate_rules(
        F.col(text_col),
        min_tokens,
        max_tokens,
        token_len_range,
        min_stop_ratio,
        min_uniq_ratio,
    )
    fail_reason = F.lit(None).cast("string")
    for name, ok in reversed(rules):
        fail_reason = F.when(~ok, F.lit(name)).otherwise(fail_reason)
    return docs.select(
        "doc_id",
        *[ok.alias(name) for name, ok in rules],
        _all_pass(rules).alias("passes"),
        fail_reason.alias("fail_reason"),
    )


def chunk_documents(
    docs: DataFrame,
    window: int = 32,
    overlap: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Split each document into token windows of ``window`` tokens with
    ``overlap`` tokens shared between consecutive chunks — the standard
    context-window preparation for training/embedding pipelines.

    Chunk starts are 1, 1+stride, … (stride = window - overlap) up to the
    token count; the final chunk may be shorter (never empty). Output one
    row per chunk: (doc_id, chunk_id, chunk_start, n_chunk_tokens,
    chunk_text).

    Scale: explode fans out ~n_tokens/stride rows per doc but everything
    stays in one codegen stage — no shuffle, no UDF; chunking 100 TB is a
    single map pass.
    """
    if not 0 <= overlap < window:
        raise ValueError(f"need 0 <= overlap < window, got {overlap}/{window}")
    stride = window - overlap
    toks = tokens(F.col(text_col))
    chunk = F.slice(F.col("__t"), F.col("chunk_start"), window)
    return (
        docs.select(
            "doc_id",
            toks.alias("__t"),
            F.explode(
                F.sequence(F.lit(1), F.size(toks), F.lit(stride))
            ).alias("chunk_start"),
        )
        .select(
            "doc_id",
            ((F.col("chunk_start") - 1) / stride).cast("int").alias("chunk_id"),
            F.col("chunk_start").cast("int").alias("chunk_start"),
            F.size(chunk).alias("n_chunk_tokens"),
            F.concat_ws(" ", chunk).alias("chunk_text"),
        )
    )


def winnow_fingerprints(
    docs: DataFrame, k: int = 8, window: int = 4, text_col: str = "text"
) -> DataFrame:
    """Winnowing document fingerprints (rolling-hash selection, cf.
    Schleimer/Wilkerson/Aiken, SIGMOD 2003 — the MOSS algorithm):
    hash every character k-gram, slide a window of ``window`` hashes, keep
    each window's minimum; the distinct kept hashes are the document's
    fingerprint set. Guarantees any shared substring of length
    >= k + window - 1 contributes at least one common fingerprint —
    position-robust plagiarism/overlap detection where shingle sets are
    too coarse.

    Hashes are 8-hex-char md5 prefixes compared lexicographically —
    uniform, engine-portable (the oracle reproduces the exact fingerprint
    sets; swap xxhash64 for the cheaper engine-local variant in hot
    paths, as with LSH shingles).
    Output: one (doc_id, fp) row per distinct selected fingerprint.
    """
    t = F.col(text_col)
    n_grams = F.length(t) - (k - 1)
    grams = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: F.substring(F.md5(t.substr(i, F.lit(k))), 1, 8),
    )
    n_windows = F.size(F.col("__h")) - (window - 1)
    mins = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n_windows),
            lambda j: F.array_min(F.slice(F.col("__h"), j, window)),
        )
    )
    return (
        docs.filter(F.length(t) >= k + window - 1)
        .select("doc_id", grams.alias("__h"))
        .select("doc_id", F.explode(mins).alias("fp"))
    )


def bigram_collocations(
    docs: DataFrame, text_col: str = "text", min_count: int = 5
) -> DataFrame:
    """Corpus collocation mining: bigram counts + pointwise lift.

    ``lift = p(xy) / (p(x)·p(y))`` — the PMI argument without the log
    (monotone in PMI, so ranking is identical, and it stays inside
    cross-engine-deterministic IEEE arithmetic: integer counts, one
    multiply/divide chain — no transcendentals, per the determinism rules
    in queries/base.py).

    Scale shape: bigrams come from ``slice``+``arrays_zip`` (non-lambda
    builtins, codegen) exactly like the shingle path in dedup.py; two
    vocabulary-sized aggregations and two key joins AFTER the min_count
    filter has shrunk the bigram side — the joins carry surviving
    bigrams, not the corpus.
    """
    toks = F.split(F.col(text_col), TOKEN_SPLIT_RE)
    t = docs.select(toks.alias("t")).filter(F.size("t") >= 2)
    m = F.size("t") - 1
    z = F.arrays_zip(F.slice(F.col("t"), 1, m), F.slice(F.col("t"), 2, m))
    pairs = t.select(F.explode(z).alias("p")).select(
        F.concat_ws(" ", F.col("p")["0"], F.col("p")["1"]).alias("bigram")
    )
    uni = docs.select(F.explode(toks).alias("w"))
    ucnt = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    bcnt_all = pairs.groupBy("bigram").agg(F.count(F.lit(1)).alias("c_xy"))
    # corpus totals ride the aggregates already built, as broadcast
    # 1-row relations — exact integers, fully lazy (eager .count()
    # actions here would tokenize the corpus twice just to construct
    # the plan, then execution would re-do both)
    tot_u = ucnt.agg(F.sum("c").alias("__nu"))
    tot_b = bcnt_all.agg(F.sum("c_xy").alias("__nb"))
    bcnt = (
        bcnt_all.filter(F.col("c_xy") >= min_count)
        .withColumn("w1", F.substring_index("bigram", " ", 1))
        .withColumn("w2", F.substring_index("bigram", " ", -1))
    )
    out = (
        bcnt.join(ucnt.select(F.col("w").alias("w1"), F.col("c").alias("c_x")), "w1")
        .join(ucnt.select(F.col("w").alias("w2"), F.col("c").alias("c_y")), "w2")
        .crossJoin(F.broadcast(tot_u))
        .crossJoin(F.broadcast(tot_b))
    )
    nu = F.col("__nu").cast("double")
    nb = F.col("__nb").cast("double")
    lift = (
        F.col("c_xy").cast("double") * nu * nu
        / (F.col("c_x").cast("double") * F.col("c_y").cast("double") * nb)
    )
    return out.select("bigram", "c_xy", "c_x", "c_y", lift.alias("lift"))


def _char_bigrams(c: Column, lowered: bool = False) -> Column:
    """Array of lowercase character bigrams of a string (empty for len<2).

    CALLERS MUST project ``lower(text)`` into a real column first and
    pass it with ``lowered=True``: expressions referenced inside a
    higher-order-function lambda are RE-EVALUATED per element (the
    ``shingles()`` trap), so an embedded lower() turns the transform
    into O(len²) work per document. Together with the slice/zip
    construction below, the corpus-wide training aggregation at sf0.1
    measured 15.8 s → 6.7 s cold."""
    t = c if lowered else F.lower(c)
    # slice/zip construction (the _shingled trick): split to a char
    # array once, then adjacent-pair concat over zipped slices — the
    # per-element work is a 2-char concat instead of a substr into the
    # full document string
    chars = F.split(t, "")
    m = F.size(chars) - 1
    z = F.arrays_zip(F.slice(chars, 1, m), F.slice(chars, 2, m))
    return F.when(
        F.length(t) >= 2,
        F.transform(z, lambda s: F.concat(s["0"], s["1"])),
    ).otherwise(F.array().cast("array<string>"))


def charlm_grams(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id_col, bg): every character bigram of every document — the
    relation BOTH ``charlm_train`` and ``charlm_score`` consume. A
    caller running train-then-score over the same corpus should build
    this once, ``localCheckpoint`` it, and pass it to both via their
    ``grams`` parameter: the explode + per-element bigram construction
    is the dominant cost of the pair, and without the shared relation
    it runs twice (guide §1.2 — remove the duplicated pass, not the
    per-element work first). The materialization is corpus-×-L sized,
    the standard trade of one local-disk write/read against a second
    full scan + explode."""
    return docs.select(
        F.col(id_col), F.lower(F.col(text_col)).alias("__t")
    ).select(
        F.col(id_col),
        F.explode(_char_bigrams(F.col("__t"), lowered=True)).alias("bg"),
    )


def charlm_train(
    docs: DataFrame, text_col: str = "text", grams: DataFrame | None = None
) -> DataFrame:
    """Train a character-bigram language model over the corpus:
    (bigram, logp) with add-one smoothing, logp = ln(count+1 / ctx+V).

    The model is vocabulary-sized (≤ |alphabet|² rows — KBs), so scoring
    broadcasts it; training is one explode + two vocabulary aggregations.
    ``grams``: a precomputed ``charlm_grams`` relation (any extra
    columns ignored) — pass it when scoring follows on the same corpus
    so the explode runs once for the pair.
    """
    if grams is not None:
        grams = grams.select("bg")
    else:
        grams = docs.select(F.lower(F.col(text_col)).alias("__t")).select(
            F.explode(_char_bigrams(F.col("__t"), lowered=True)).alias("bg")
        )
    counts = grams.groupBy("bg").agg(F.count(F.lit(1)).alias("c"))
    ctx = counts.groupBy(F.substring("bg", 1, 1).alias("h")).agg(
        F.sum("c").alias("hc")
    )
    v = counts.select(F.substring("bg", 2, 1)).distinct().count()
    return (
        counts.join(ctx, F.substring("bg", 1, 1) == F.col("h"))
        .select(
            "bg",
            F.log((F.col("c") + 1).cast("double") / (F.col("hc") + v)).alias("logp"),
        )
    )


def charlm_score(
    docs: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    unseen_logp: float = -12.0,
    grams: DataFrame | None = None,
) -> DataFrame:
    """Per-document mean bigram log-probability under a trained model —
    the perplexity-proxy quality signal (gibberish / wrong-charset /
    binary-pasted docs score far below corpus-typical text).

    Scale: explode doc bigrams, ONE broadcast join against the KB-sized
    model, one groupBy doc. Unseen bigrams get a fixed floor logp.
    ``grams``: a precomputed ``charlm_grams`` relation — pass the same
    (checkpointed) one used for training so the explode runs once.

    EVERY doc gets a row: documents too short for a bigram (len < 2 —
    exactly the junk a perplexity gate exists to flag) come back with
    NULL mean_logp and n_bigrams = 0 via the left join, instead of
    silently vanishing from the output and slipping through a
    ``mean_logp < floor`` filter unscored.
    """
    if grams is None:
        grams = charlm_grams(docs, text_col, id_col)
    else:
        grams = grams.select(id_col, "bg")
    scored = grams.join(F.broadcast(model), "bg", "left").select(
        id_col, F.coalesce(F.col("logp"), F.lit(unseen_logp)).alias("logp")
    )
    agg = scored.groupBy(id_col).agg(
        F.avg("logp").alias("mean_logp"), F.count(F.lit(1)).alias("n_bigrams")
    )
    return (
        docs.select(id_col)
        .join(agg, id_col, "left")
        .select(
            id_col,
            "mean_logp",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        )
    )


def word_bigram_lm_scores(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """CCNet-style LM quality scoring (Wenzek et al. 2020) with a WORD
    bigram model trained on the corpus itself: per document the mean
    log2-probability of its bigrams under add-one smoothing, and the
    perplexity 2^(-mean). Low-probability documents are boilerplate /
    wrong-language / template junk relative to the corpus.

    Unlike ``charlm_*`` (alphabet²-sized model → broadcast join), the
    word-bigram model is VOCABULARY²-sized — big data itself — so
    scoring is a distributed equi-join of the doc-bigram relation
    against the count relations (map-side-combined aggs, AQE
    skew-splittable joins), never a broadcast.

    Smoothing is add-one so every log2 argument is an EXACT integer
    (count+1, context+V) — cross-engine float drift is ≤1 ulp per term
    (the token_entropy convention), keeping the operator value-hash
    oracle-checkable. Documents with <2 tokens carry no bigrams and are
    absent by contract (they are the charlm gate's job).

    Separation requires the corpus to HAVE bigram concentration: on a
    structureless corpus (independent random tokens) conditionals are
    flat and word salad is not distinguishable by a conditional LM —
    use the charlm / ngram-novelty gates for that failure mode.

    Returns (doc_id, n_bigrams, avg_log2_prob, perplexity).
    """
    toks = tokens(F.col(text_col))
    d = docs.select(F.col(id_col), toks.alias("__t")).filter(
        F.size("__t") >= 2
    )
    m = F.size("__t") - 1
    z = F.arrays_zip(F.slice("__t", 1, m), F.slice("__t", 2, m))
    # bigram relation is referenced twice (count training + scoring
    # join) — materialize once, same contract as spans._duplicated_hits
    b = (
        d.select(F.col(id_col), F.explode(z).alias("bg"))
        .select(
            F.col(id_col),
            F.col("bg.0").alias("w1"),
            F.col("bg.1").alias("w2"),
        )
        .localCheckpoint(eager=True, storageLevel=SCRATCH_LEVEL)
    )
    # the bigram model is materialized: it is consumed twice (the c1
    # context agg and the model join) and would otherwise re-run its
    # corpus-sized agg per reference — vocabulary²-sized, i.e. far
    # smaller than the gram relation it summarizes
    c12 = (
        b.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .localCheckpoint(eager=True, storageLevel=SCRATCH_LEVEL)
    )
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    v = c1.agg(F.count(F.lit(1)).alias("v"))
    # fold context counts into the bigram model FIRST (vocabulary²-sized
    # shuffle), so the corpus-sized doc-bigram relation is shuffled ONCE
    # by (w1, w2) instead of once by (w1, w2) and again by w1
    # (guide §2.3: shuffle the small relation twice, the big one once)
    model = c12.join(c1, "w1").crossJoin(F.broadcast(v))
    return (
        b.join(model, ["w1", "w2"])
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.avg(
                F.log2((F.col("c12") + 1).cast("double"))
                - F.log2((F.col("c1") + F.col("v")).cast("double"))
            ).alias("__avg"),
        )
        .select(
            id_col,
            "n_bigrams",
            F.round("__avg", 6).alias("avg_log2_prob"),
            F.round(F.pow(F.lit(2.0), -F.col("__avg")), 6).alias(
                "perplexity"
            ),
        )
    )


def remove_boilerplate_lines(
    docs: DataFrame,
    min_docs: int = 3,
    text_col: str = "text",
    sep: str = "\n",
    id_col: str = "doc_id",
    out_col: str = "clean_text",
) -> DataFrame:
    """C4-style boilerplate removal: drop every LINE that occurs in
    ``min_docs`` or more distinct documents (cookie banners, nav menus,
    license headers), rebuilding each document from its surviving lines
    in original order. cf. Raffel et al. 2020 (C4), §2.2 line filters.

    Scale shape: one posexplode, one map-side-combined
    groupBy(line)→distinct-doc count (line cardinality ≈ corpus lines,
    duplicates collapse early), one anti-join on the line hash, one
    groupBy(doc) rebuild via sort_array(collect_list(struct(pos, line)))
    — order restored without any window. Documents whose every line is
    boilerplate survive with an empty string (left join back to the
    corpus), so the operator never drops rows.
    """
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    import re as _re

    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), _re.escape(sep))).alias(
            "pos", "line"
        ),
    )
    boiler = (
        lines.groupBy("line")
        .agg(F.countDistinct(id_col).alias("df"))
        .filter(F.col("df") >= min_docs)
        .select("line")
    )
    kept = lines.join(boiler, "line", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col("pos"), F.col("line")))
                ),
                lambda s: s["line"],
            ),
            sep,
        ).alias(out_col)
    )
    return docs.select(id_col).join(rebuilt, id_col, "left").select(
        id_col, F.coalesce(F.col(out_col), F.lit("")).alias(out_col)
    )


def quantile_normalize(
    df: DataFrame,
    value_col: str,
    group_col: str,
    id_col: str = "doc_id",
    out_col: str = "q_norm",
) -> DataFrame:
    """Per-group quantile rank in [0, 1] (PERCENT_RANK): makes a quality
    signal comparable ACROSS sources whose raw score distributions differ
    — "keep the top 20% of every source" instead of a global threshold
    that silently empties low-scoring sources.

    Ties share a rank (standard PERCENT_RANK), so the output is
    independent of physical row order. One shuffle on ``group_col``; each
    group ranks in one task — for a pathologically large single group,
    rank via the bucketed ``ordering.global_ordinals`` machinery per
    group instead.
    """
    from pyspark.sql.window import Window as _W

    w = _W.partitionBy(group_col).orderBy(F.col(value_col))
    return df.withColumn(out_col, F.percent_rank().over(w))


def distribution_drift(
    old_docs: DataFrame,
    new_docs: DataFrame,
    text_col: str = "text",
    top: int = 20,
) -> DataFrame:
    """Token-distribution drift between two corpus snapshots: per token,
    the chi-square-style divergence (p - q)² / (p + q) of its relative
    frequencies, ranked — "which vocabulary moved" when a new crawl or
    source lands. All-rational arithmetic (counts and two exact
    divisions; no logs), so the scores are engine-portable.

    Shape: one token-count agg per snapshot (map-side combined), a full
    outer join on token (absent → frequency 0), one top-k. Nothing
    scales beyond vocabulary size after the scans.
    """
    def _freqs(d: DataFrame, cname: str) -> DataFrame:
        toks = d.select(F.explode(tokens(F.col(text_col))).alias("token")).filter(
            F.col("token") != ""
        )
        return toks.groupBy("token").agg(F.count(F.lit(1)).alias(cname))

    o = _freqs(old_docs, "n_old")
    n = _freqs(new_docs, "n_new")
    # totals are the SUM of the same filtered counts — a raw
    # size(split(...)) total would count empty-string tokens the
    # numerators exclude, systematically understating q for any corpus
    # with doubled/trailing whitespace and reporting spurious drift
    tot_o = o.agg(F.sum("n_old").alias("t_old"))
    tot_n = n.agg(F.sum("n_new").alias("t_new"))
    j = (
        o.join(n, "token", "full")
        .select(
            "token",
            F.coalesce("n_old", F.lit(0)).alias("n_old"),
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
        )
        .crossJoin(F.broadcast(tot_o))
        .crossJoin(F.broadcast(tot_n))
    )
    p = F.col("n_old").cast("double") / F.col("t_old").cast("double")
    q = F.col("n_new").cast("double") / F.col("t_new").cast("double")
    drift = (p - q) * (p - q) / (p + q)
    return (
        j.select("token", "n_old", "n_new", drift.alias("drift"))
        .orderBy(F.col("drift").desc(), F.col("token"))
        .limit(top)
    )


def lexical_diversity(
    docs: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Per-group lexical-diversity profile: type/token ratio and hapax
    fraction (share of the group's vocabulary occurring exactly once) —
    the standard "is this source templated boilerplate or varied prose"
    screen before mixing sources into a training corpus.

    Scale: the corpus-sized explode collapses map-side into
    (group, token) partial counts, so the one real shuffle carries at
    most groups × vocabulary rows; the second aggregation is per-group
    and tiny. No global ordering anywhere.
    """
    tok = docs.select(
        F.col(group_col).alias("grp"),
        F.explode(tokens(F.col(text_col))).alias("token"),
    ).filter(F.col("token") != "")
    per = tok.groupBy("grp", "token").agg(F.count(F.lit(1)).alias("n"))
    return (
        per.groupBy("grp")
        .agg(
            F.sum("n").alias("total_tokens"),
            F.count(F.lit(1)).alias("distinct_tokens"),
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).alias(
                "hapax_tokens"
            ),
        )
        .select(
            F.col("grp").alias(group_col),
            "total_tokens",
            "distinct_tokens",
            "hapax_tokens",
            F.round(
                F.col("distinct_tokens") / F.col("total_tokens"), 6
            ).alias("type_token_ratio"),
            F.round(
                F.col("hapax_tokens") / F.col("distinct_tokens"), 6
            ).alias("hapax_fraction"),
        )
    )


def vocab_coverage(
    docs: DataFrame,
    thresholds: tuple[float, ...] = (0.9, 0.95, 0.99),
    text_col: str = "text",
) -> DataFrame:
    """Smallest frequency-ranked vocabulary covering each target fraction
    of token occurrences (tokenizer-budget sizing: "how many types do I
    need for 99% coverage"). Tie-break is (count desc, token asc) so the
    curve is deterministic.

    Scale: the explode collapses map-side to one row per vocabulary term
    before the shuffle, and rank + cumulative mass come from
    ``ordering.global_rank_and_cumsum`` (per-bucket offsets + a
    bucket-partitioned window) — NO single-partition window even when
    the vocabulary itself is web-scale (billions of long-tail types).
    The frequency table is cached (vocabulary-sized, bounded) so the
    cut-points pass, the offsets pass, and the final pass explode the
    corpus once, not three times; the result (≤ len(thresholds) rows) is
    materialized eagerly so the cache is unpersisted before returning —
    persists are CacheManager entries the ContextCleaner never reaps.
    """
    from etl_workflows_spark.operators.ordering import (
        global_rank_and_cumsum,
        numeric_cut_buckets,
    )
    from pyspark.storagelevel import StorageLevel

    tc = token_frequencies(docs, text_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    t2 = tc.withColumn("__nf", -F.col("freq"))
    ranked = global_rank_and_cumsum(
        t2,
        ["__nf", "token"],
        "freq",
        numeric_cut_buckets(t2, "__nf", 64),
        ordinal_col="rank",
        cum_col="cum",
    ).drop("__nf")
    tot = tc.agg(F.sum("freq").alias("total"))
    thr = docs.sparkSession.createDataFrame(
        [(float(t),) for t in thresholds], "threshold double"
    )
    out = (
        ranked.crossJoin(F.broadcast(tot))
        .join(
            F.broadcast(thr),
            F.col("cum").cast("double")
            >= F.col("threshold") * F.col("total").cast("double"),
        )
        .groupBy("threshold")
        .agg(
            F.min("rank").cast("bigint").alias("vocab_size"),
            F.round(
                F.min_by("cum", "rank").cast("double")
                / F.min("total").cast("double"),
                6,
            ).alias("coverage"),
        )
    )
    # materialize the (≤ len(thresholds))-row result so the persisted
    # frequency relation can be unpersisted HERE: DataFrame persists are
    # CacheManager entries the ContextCleaner never reaps, so a lazy
    # return would leak executor storage for the session
    out = out.localCheckpoint(eager=True, storageLevel=SCRATCH_LEVEL)
    tc.unpersist()
    return out


def compression_ratio(
    docs: DataFrame,
    text_col: str = "text",
    level: int = 6,
    repetitive_below: float = 0.3,
) -> DataFrame:
    """Per-document zlib compression ratio — the Gopher/RefinedWeb-style
    redundancy signal (highly repetitive or boilerplate text compresses
    far below natural prose; Rae et al. 2021 use it as a quality gate).

    ``ratio = len(zlib(text, level)) / len(utf8(text))``; low values mean
    repetitive content, ``is_repetitive`` flags ratios below
    ``repetitive_below``. DEFLATE has no SQL twin, so this is the
    documented rows-only class; determinism within one zlib build is
    pinned by pytest instead.

    Scale shape: a single Arrow-batched pandas UDF projection — no
    shuffle, no driver collect; zlib is C code, so per-batch Python
    overhead is amortized across the Arrow batch (the "UDF only where
    built-ins genuinely can't" boundary: bit-level DEFLATE state is not
    expressible in Catalyst expressions).
    """
    import pandas as pd  # noqa: F401 — pandas_udf contract

    if not 1 <= level <= 9:
        raise ValueError(f"zlib level must be in [1, 9], got {level}")

    @F.pandas_udf("double")
    def _ratio(s):
        import zlib

        def one(t):
            if t is None:
                return None
            b = t.encode("utf-8")
            if not b:
                return 1.0
            return len(zlib.compress(b, level)) / len(b)

        return s.map(one)

    ratio = F.round(_ratio(F.col(text_col)), 6)
    return docs.select(
        "doc_id",
        F.octet_length(text_col).cast("int").alias("n_bytes"),
        ratio.alias("compression_ratio"),
        (ratio < F.lit(repetitive_below)).alias("is_repetitive"),
    )
