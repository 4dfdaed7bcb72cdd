"""Text-analysis operators for large-scale training-data pipelines.

Beyond-reference surface (BASELINE.json north star): language ID,
quality scoring, token counting, document fingerprinting — all as native
Spark column expressions (JVM-side, whole-stage codegen; no Python UDFs),
so they hold up on a 100 TB documents table: one scan, map-side work,
and at most one shuffle for the lang-id argmax.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from ecmm428_pycart_spark.session import checkpoint


# Small function-word lists per language for the n-gram/stopword heuristic.
# Deliberately tiny and deterministic — the operator contract is "argmax of
# stopword hits with lexicographic tiebreak", not linguistic accuracy.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "fr": ["le", "la", "de", "et", "un", "les", "des"],
    "es": ["el", "los", "las", "una", "y", "que", "en"],
    "de": ["der", "die", "das", "und", "ein", "nicht", "ist"],
}


def tokens(col) -> Column:
    """Whitespace tokenization (single-space corpus)."""
    return F.split(col, " ")


def token_count(col) -> Column:
    return F.size(tokens(col))


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document stats: token count, char count, unique-token ratio,
    average token length — the quality-scoring raw features."""
    t = tokens(F.col(text_col))
    n_tok = F.size(t)
    return (df
            .withColumn("n_tokens", n_tok)
            .withColumn("n_chars2", F.length(text_col))
            .withColumn("n_unique_tokens", F.size(F.array_distinct(t)))
            .withColumn("avg_token_len",
                        F.length(F.replace(F.col(text_col), F.lit(" "), F.lit("")))
                        / n_tok))


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic quality score in [0,1]: length saturation × lexical
    diversity. A stand-in for Gopher-style quality rules, fully native."""
    s = with_text_stats(df, text_col)
    return s.withColumn(
        "quality",
        F.least(F.col("n_tokens") / F.lit(100.0), F.lit(1.0))
        * (F.col("n_unique_tokens") / F.col("n_tokens")))


def lang_id(df: DataFrame, id_col: str = "doc_id",
            text_col: str = "text") -> DataFrame:
    """Heuristic language ID: count stopword hits per language, argmax
    with (count desc, lang asc) tiebreak; no hits → 'und'.

    Plan shape: explode tokens → broadcast join against the stopword
    table → two-level aggregate. The explode is map-side; the only
    shuffle is the per-doc aggregation, partitioned by doc id.
    """
    spark = df.sparkSession
    sw = spark.createDataFrame(
        [(lang, w) for lang, ws in STOPWORDS.items() for w in ws],
        ["cand_lang", "tok"])
    tok = df.select(id_col, F.explode(tokens(F.col(text_col))).alias("tok"))
    hits = (tok.join(F.broadcast(sw), "tok")
            .groupBy(id_col, "cand_lang").agg(F.count(F.lit(1)).alias("n_hits")))
    w = W.partitionBy(id_col).orderBy(F.col("n_hits").desc(),
                                      F.col("cand_lang").asc())
    best = (hits.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(id_col, F.col("cand_lang").alias("pred_lang")))
    return (df.join(best, id_col, "left")
            .withColumn("pred_lang", F.coalesce("pred_lang", F.lit("und"))))


def fingerprint(col) -> Column:
    """Order-insensitive bag fingerprint: md5 over the sorted distinct
    token set. Identical content under token reordering → same print."""
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(col)))))


def md5_uniform(col) -> Column:
    """Deterministic uniform draw in (0, 1): first 8 md5 hex chars of
    the stringified column, as (h + 0.5) / 2^32 — the repo's
    engine-portable RNG contract (hash sampling d10, weighted
    reservoir d24, temperature mixing, leakage-safe splits). ONE
    definition: the DuckDB mirror is
    ``(CAST(concat('0x', substr(md5(CAST(x AS VARCHAR)), 1, 8)) AS
    UBIGINT) + 0.5) / 4294967296.0``; change both or neither."""
    c = F.col(col) if isinstance(col, str) else col
    return ((F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10)
             .cast("long") + 0.5) / F.lit(4294967296.0))


def md5_bucket(col, n: int) -> Column:
    """Deterministic bucket in [0, n): same md5 prefix, mod n (shard
    assignment, hash splits)."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10)
            .cast("long") % n).cast("int")


def chunk_documents(df: DataFrame, window: int = 50, stride: int = 40,
                    id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Sliding-window token chunking — the pre-tokenization split every
    training pipeline applies to long documents (overlap = window-stride
    tokens preserves cross-boundary context).

    In-plan and map-side only: chunk starts come from sequence() over
    each doc's own token count, exploded; no shuffle at all — a 100 TB
    corpus chunks in a single scan, output proportional to input.
    """
    toks = tokens(F.col(text_col))
    chunked = (df.select(id_col, toks.alias("_toks"),
                         F.size(toks).alias("_n"))
               .withColumn("chunk_start", F.explode(F.sequence(
                   F.lit(0), F.greatest(F.col("_n") - 1, F.lit(0)),
                   F.lit(stride))))
               .filter(F.col("chunk_start") < F.col("_n")))
    chunk = F.slice("_toks", F.col("chunk_start") + 1, window)
    return chunked.select(
        F.col(id_col),
        (F.col("chunk_start") / stride).cast("int").alias("chunk_idx"),
        F.col("chunk_start").cast("int"),
        F.size(chunk).alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"))


def pack_sequences(df: DataFrame, budget: int = 2048, shards: int = 16,
                   id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Deterministic sequence packing: assign documents to fixed-token-
    budget training bins. Docs are hash-sharded, hash-ordered within the
    shard, and binned by the running token offset — contiguous greedy
    packing *per shard*.

    Scale shape: real pipelines pack per output shard/file, never
    globally — a single global running sum is an unpartitioned window
    (one reducer sees everything). Sharding by a hash byte keeps every
    window partition-local and the whole plan one shuffle on shard;
    determinism comes from the md5 ordering, not rand().
    """
    from pyspark.sql import Window as W
    h = F.md5(F.col(id_col).cast("string"))
    n = F.size(tokens(F.col(text_col)))
    # shard from a real hash byte (first two hex chars → 0..255), NOT
    # ascii(first char) % shards: hex digits 0-9/a-f have ascii codes
    # 48-57/97-102, which mod 16 collapse onto 0-9 and 1-6 — shards
    # 10-15 would always be empty and 1-6 doubly loaded
    byte0 = F.conv(F.substring(h, 1, 2), 16, 10).cast("int")
    base = df.select(F.col(id_col), h.alias("_h"), n.alias("_n"),
                     (byte0 % shards).alias("shard"))
    w = (W.partitionBy("shard").orderBy("_h", id_col)
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    running = F.sum("_n").over(w)
    return base.select(
        id_col, "shard",
        F.floor((running - F.col("_n")) / budget).alias("pack_id"),
        F.col("_n").alias("n_tokens"),
        (running - F.col("_n")).alias("pack_offset"))


def adjacent_pairs(arr) -> Column:
    """(a, b) structs for adjacent elements of an array column; empty
    for arrays shorter than 2. The guard matters: sequence(1, 0) is
    the DESCENDING [1, 0] in Spark (step defaults to -1), which would
    index out of bounds on a 1-element array. Shared by the bigram LM
    stream and the BPE pair counter."""
    idx = F.sequence(F.lit(1), F.size(arr) - 1)
    pairs = F.transform(
        idx, lambda i: F.struct(F.element_at(arr, i).alias("a"),
                                F.element_at(arr, i + 1).alias("b")))
    return F.when(F.size(arr) >= 2, pairs).otherwise(
        F.array().cast("array<struct<a:string,b:string>>"))


def lm_count_tables(ref: DataFrame, text_col: str = "text"
                    ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The three Stupid-Backoff count tables of ``bigram_lm_score``,
    built from the reference corpus in one exploded pass each:

    - ``uni``: (w, cu) unigram counts,
    - ``bg_enriched``: (w1, w2, cb, cc) bigram counts with the
      count-as-context denominator already FOLDED IN (a vocab² × vocab
      join — see bigram_lm_score's scale note),
    - ``total``: 1 row (total,) = sum of unigram counts.

    Split out (r13) so the tables can be materialized once per corpus
    by ``datapipe.lm_store`` — they are a pure function of the
    reference corpus text, and their build is the measured wall of
    q95/d43 (docs/PROFILE_q95_d19_r12.json: 6.1–6.4s of q95's 8.1s).
    All counts are exact longs, so a parquet round-trip reproduces
    scores bit-for-bit."""
    from ecmm428_pycart_spark.session import spread_small

    # spread the reference text before the exploded passes: with the
    # count-table joins downstream broadcast, tokenize+explode+partial
    # aggregation all run map-side — single-task on a small one-file
    # scan (or an AQE-coalesced computed corpus) without this (r13b).
    # Counts are exact longs, so the result is partitioning-invariant.
    ref = spread_small(ref.select(text_col))
    uni = (ref.select(F.explode(tokens(F.col(text_col))).alias("w"))
           .groupBy("w").agg(F.count(F.lit(1)).alias("cu")))
    total = uni.agg(F.sum("cu").alias("total"))
    bg_counts = (ref.select(
        F.explode(adjacent_pairs(tokens(F.col(text_col)))).alias("bg"))
        .select(F.col("bg.a").alias("w1"), F.col("bg.b").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cb")))
    ctx = bg_counts.groupBy("w1").agg(F.sum("cb").alias("cc"))
    # fold the context denominator into the count table BEFORE the
    # corpus join: this join is vocab² x vocab, not corpus-sized, and
    # it removes one full shuffle of the per-document bigram stream
    bg_enriched = bg_counts.join(ctx, "w1")
    return uni, bg_enriched, total


def bigram_lm_score(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text",
                    alpha: float = 0.4,
                    ref: DataFrame | None = None,
                    with_backoff_count: bool = False,
                    counts: tuple[DataFrame, DataFrame, DataFrame]
                    | None = None) -> DataFrame:
    """Per-document Stupid Backoff bigram LM score (Brants et al. 2007,
    "Large Language Models in Machine Translation") — the LM-quality
    signal designed FOR distributed counting at web scale, and the
    bigram upgrade over the unigram scorer of d31:

        S(w_i | w_{i-1}) = count(w_{i-1} w_i) / count-as-context(w_{i-1})
                           if the REFERENCE corpus saw the bigram, else
                           alpha * count(w_i) / total_tokens

    Count tables come from ``ref`` (the training corpus); ``df`` is the
    corpus being scored. With the default ``ref=None`` the corpus
    scores against its own counts — in that case every bigram is by
    definition seen and the backoff never fires (self-scoring is the
    d31-style quality-signal mode); pass a held-out or last-week ``ref``
    to score genuinely unseen continuations through the backoff. A w2
    unseen even as a unigram in ``ref`` scores NULL for that position
    and is excluded from the average (strict OOV).

    score(doc) = avg over the doc's bigram positions of ln S, rounded
    to 6 (libm parity convention). Documents with < 2 tokens score
    NULL (no bigram positions).

    All counting is native groupBys over an exploded adjacent_pairs
    stream (no window, no self-join); the denominator is the
    count-as-context (bigrams starting with w), not the raw unigram
    count, so rows ending a document don't deflate their final token's
    context.

    Scale shape: the bigram-count table is vocabulary², far past
    broadcast range at corpus scale — the score join shuffles on the
    (w1, w2) key (plain hash join); unigram/context tables shuffle on
    w. One pass builds all three tables from the same exploded stream,
    and the context denominator is FOLDED INTO the bigram-count table
    before the corpus join (a vocabulary²-vs-vocabulary join), so the
    corpus-sized bigram stream shuffles twice — once on (w1, w2) for
    (cb, cc), once on w2 for the backoff unigram — not three times.
    ``counts`` short-circuits the table build with precomputed
    ``lm_count_tables`` output (the lm_store path); the caller is
    responsible for the tables matching the intended reference corpus.
    """
    from ecmm428_pycart_spark.session import spread_small

    # spread the scored corpus before its exploded pass — the count
    # tables broadcast at bench scale, so the whole score chain
    # (tokenize, explode, both joins, partial agg) is map-side and
    # otherwise runs as one task on a small scan (r13b)
    bigrams = (spread_small(df.select(id_col, text_col)).select(
        F.col(id_col),
        F.explode(adjacent_pairs(tokens(F.col(text_col)))).alias("bg"))
        .select(F.col(id_col), F.col("bg.a").alias("w1"),
                F.col("bg.b").alias("w2")))
    if counts is None:
        counts = lm_count_tables(ref if ref is not None else df,
                                 text_col=text_col)
    uni, bg_enriched, total = counts
    score = F.when(
        F.col("cb").isNotNull(),
        F.col("cb").cast("double") / F.col("cc"),
    ).otherwise(F.lit(alpha) * F.col("cu").cast("double") / F.col("total"))
    aggs = [F.round(F.avg(F.log(score)), 6).alias("lm_bigram")]
    if with_backoff_count:
        # how often the Stupid Backoff actually fired (bigram unseen in
        # ref, unigram seen) — the observability hook that lets a gate
        # oracle prove the branch executes, not just that scores match
        aggs.append(F.sum(
            F.when(F.col("cb").isNull() & F.col("cu").isNotNull(), 1)
            .otherwise(0)).alias("n_backoff"))
    scored = (bigrams
              .join(bg_enriched, ["w1", "w2"], "left")
              .join(uni.select(F.col("w").alias("w2"), "cu"), "w2", "left")
              .crossJoin(F.broadcast(total))
              .groupBy(id_col)
              .agg(*aggs))
    # keep < 2-token documents as NULL-score rows rather than dropping
    # them — a scorer that silently loses rows breaks downstream joins
    out = df.select(id_col).join(scored, id_col, "left")
    if with_backoff_count:
        out = out.withColumn(
            "n_backoff", F.coalesce("n_backoff", F.lit(0).cast("long")))
    return out


def bm25_topk(df: DataFrame, query_text: str, k: int = 10,
              k1: float = 1.2, b: float = 0.75,
              id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """BM25 retrieval via the inverted-index join — the sparse-retrieval
    shape that serves web-scale search (Robertson & Zaragoza 2009):

        score(d, q) = sum over unique q terms t of
          idf(t) * tf(t,d) * (k1 + 1) / (tf(t,d) + k1 * (1 - b + b * |d|/avgdl))
        idf(t) = ln(1 + (N - df(t) + 0.5) / (df(t) + 0.5))   (Lucene form)

    Plan shape (the reason BM25 scales where dense brute-force can't):
    the postings table (term, doc, tf) is built by one exploded groupBy;
    the query's terms — a literal handful — broadcast-join INTO the
    postings, so only the query terms' posting lists are ever read or
    shuffled, ~|terms| * avg-postings rows instead of the corpus. Doc
    stats (N, avgdl) ride along as a 1-row broadcast. Top-k is a
    TakeOrderedAndProject with the id tiebreak, scores rounded to 6
    (cross-engine convention).

    Duplicate query terms are deduped (standard bag-of-words query);
    documents matching no term don't appear.
    """
    terms = sorted(set(query_text.split(" ")) - {""})
    if not terms:
        raise ValueError("bm25_topk: empty query")
    toks = df.select(F.col(id_col),
                     F.explode(tokens(F.col(text_col))).alias("w"))
    postings = (toks.groupBy(id_col, "w")
                .agg(F.count(F.lit(1)).alias("tf")))
    doclen = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    stats = doclen.agg(F.count(F.lit(1)).alias("n_docs"),
                       F.avg("dl").alias("avgdl"))
    dfreq = (postings.groupBy("w")
             .agg(F.count(F.lit(1)).alias("df")))
    qterms = F.array(*[F.lit(t) for t in terms])
    matched = (postings
               .filter(F.array_contains(qterms, F.col("w")))
               .join(dfreq.filter(F.array_contains(qterms, F.col("w"))),
                     "w")
               .join(doclen, id_col)
               .crossJoin(F.broadcast(stats)))
    idf = F.log(F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    tf_part = (F.col("tf") * (k1 + 1)
               / (F.col("tf")
                  + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))))
    return (matched
            .groupBy(id_col)
            .agg(F.round(F.sum(idf * tf_part), 6).alias("bm25"))
            .orderBy(F.col("bm25").desc(), F.col(id_col).asc())
            .limit(k))


def heavy_hitter_tokens(df: DataFrame, support: float = 0.001,
                        k_counters: int | None = None,
                        text_col: str = "text") -> DataFrame:
    """Tokens with true frequency >= support * total_tokens, found at
    scale with a Misra-Gries sketch + exact confirm.

    The mechanism (why this beats a full vocabulary groupBy at 100 TB):
    each partition summarizes its token stream into <= k_counters
    (token, count) pairs in one pass and O(k) memory (Misra-Gries:
    decrement-all on overflow). Partial counters UNDERESTIMATE by at
    most N_p / k per partition, so the summed sketch c(t) satisfies
    true(t) - N/k <= c(t) <= true(t); with k = ceil(2 / support) every
    true heavy hitter clears the candidate bar c >= (support - 1/k)*N
    — no false negatives, by theorem. The candidate set (tiny)
    broadcast-joins back into one more stream pass for EXACT counts,
    so the output is deterministic and identical to the brute-force
    `HAVING count >= support * N` — which is exactly what the oracle
    states — while only sketch rows and candidate counts ever shuffle.

    Returns (token, n_occurrences), exact, for all true heavy hitters.
    """
    import pandas as pd

    if not (0 < support < 1):
        raise ValueError("support must be in (0, 1)")
    if k_counters is None:
        k_counters = max(16, int(2.0 / support) + 1)
    if k_counters <= 1.0 / support:
        # MG only guarantees presence when true(t) > N/k; with
        # k <= 1/support a true heavy hitter can be decremented out of
        # every sketch and silently vanish from the "exact" output
        raise ValueError(
            f"k_counters={k_counters} breaks the no-false-negative "
            f"guarantee for support={support}: need k > 1/support "
            f"(= {1.0 / support:.0f})")
    k = k_counters

    toks = df.select(F.explode(tokens(F.col(text_col))).alias("w"))

    def mg_sketch(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            for w in pdf["w"]:
                if w in counters:
                    counters[w] += 1
                elif len(counters) < k:
                    counters[w] = 1
                else:
                    # decrement-all; drop zeros (the MG overflow step)
                    dead = []
                    for key in counters:
                        counters[key] -= 1
                        if counters[key] == 0:
                            dead.append(key)
                    for key in dead:
                        del counters[key]
        yield pd.DataFrame({"w": list(counters),
                            "c": list(counters.values())})

    partials = toks.mapInPandas(mg_sketch, "w string, c long")
    totals = toks.agg(F.count(F.lit(1)).alias("n_tokens"))
    cand = (partials.groupBy("w").agg(F.sum("c").alias("c"))
            .crossJoin(F.broadcast(totals))
            .filter(F.col("c") >=
                    (F.lit(support) - 1.0 / k) * F.col("n_tokens"))
            .select("w"))
    exact = (toks.join(F.broadcast(cand), "w")
             .groupBy("w").agg(F.count(F.lit(1)).alias("n_occurrences"))
             .crossJoin(F.broadcast(totals))
             .filter(F.col("n_occurrences")
                     >= F.lit(support) * F.col("n_tokens"))
             .select(F.col("w").alias("token"), "n_occurrences"))
    return exact


def _bpe_adjacent_pairs(syms) -> Column:
    """(a, b) structs for adjacent symbol pairs; empty for len < 2."""
    return adjacent_pairs(syms)


def _bpe_merge_pair(syms, a: str, b: str) -> Column:
    """Greedy left-to-right non-overlapping merge of adjacent (a, b) —
    an aggregate() fold, so the replace is a native expression. The
    overlap case ('a a a' under merge (a,a)) resolves left-first, the
    same way Sennrich's non-overlapping regex replace does."""
    # try_element_at: ANSI mode makes element_at(-1) THROW on the empty
    # initial accumulator; the try_ variant yields null -> no match
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.try_element_at(acc, F.lit(-1)) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1),
                     F.array(F.lit(a + b)))
        ).otherwise(F.concat(acc, F.array(x))))


def learn_bpe_merges(df: DataFrame, n_merges: int = 16,
                     text_col: str = "text", end_token: str = "</w>",
                     min_freq: int = 2, checkpoint_every: int = 4):
    """REAL byte-pair-encoding merge learning (Sennrich et al. 2016) —
    the step the d13 "BPE-ish" regex approximates — run distributed:

    - the corpus collapses to a WORD-FREQUENCY table first (one
      groupBy), so every subsequent pass costs |vocabulary|, not
      |corpus| — the same reduction every production BPE trainer uses
      (at 100 TB you additionally learn on a sampled/top-N vocab and
      apply everywhere; the apply side is `_bpe_merge_pair`, map-side);
    - each merge step is one exploded pair-count aggregate + a 1-row
      argmax collect (count desc, then (a, b) lexicographic — fully
      deterministic), then a native-expression merge fold over the
      symbol arrays, localCheckpoint-ed every ``checkpoint_every``
      merges (the same cadence knob as ``bpe_encode``) so the plan
      stays bounded: between checkpoints the pair-count aggregate
      replays at most ``checkpoint_every - 1`` map-side fold layers
      over the vocabulary-sized table — far cheaper than an eager
      materialization job per round (the merges themselves are exact
      integer argmaxes, so the cadence cannot change the result);
    - stops early when the best pair's frequency < min_freq (merging
      hapax pairs memorizes noise).

    Returns (merges, vocab): the ordered merge list [(a, b), ...] and
    the final (word, freq, syms) DataFrame.
    """
    words = (df.select(F.explode(tokens(F.col(text_col))).alias("word"))
             .filter(F.col("word") != "")
             .groupBy("word").agg(F.count(F.lit(1)).alias("freq")))
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.col("word").substr(i, F.lit(1)))
    vocab = checkpoint(words.withColumn(
        "syms", F.concat(chars, F.array(F.lit(end_token)))))
    merges: list[tuple[str, str]] = []
    pending = 0
    for _ in range(n_merges):
        pairs = vocab.select(
            "freq", F.explode(_bpe_adjacent_pairs(F.col("syms"))).alias("p"))
        best = (pairs.groupBy(F.col("p.a").alias("a"),
                              F.col("p.b").alias("b"))
                .agg(F.sum("freq").alias("c"))
                .orderBy(F.col("c").desc(), F.col("a").asc(),
                         F.col("b").asc())
                .limit(1).collect())
        if not best or best[0]["c"] < min_freq:
            break
        a, b = best[0]["a"], best[0]["b"]
        merges.append((a, b))
        vocab = vocab.withColumn(
            "syms", _bpe_merge_pair(F.col("syms"), a, b))
        pending += 1
        if pending >= max(1, checkpoint_every):
            vocab = checkpoint(vocab)
            pending = 0
    if pending:
        # ADVICE r13: without this, a non-multiple n_merges (or an early
        # min_freq break) returned a vocab carrying up to
        # checkpoint_every-1 unmaterialized merge-fold layers, which any
        # multi-action caller would replay per action.
        vocab = checkpoint(vocab)
    return merges, vocab


def hashing_tf(df: DataFrame, dim: int = 64, id_col: str = "doc_id",
               text_col: str = "text", idf: bool = False,
               l2_normalize: bool = False) -> DataFrame:
    """Feature-hashing ("hashing trick") document vectors — gives every
    document a fixed-width `embedding array<double>` WITHOUT a model
    or a vocabulary pass, bridging the documents table into the whole
    similarity stack (cosine_topk / semdedup / LSH / k-NN all consume
    the output directly). Same construction as Spark MLlib's HashingTF
    but with deterministic cross-engine hashing (md5-derived bucket,
    not JVM murmur) and a dense array output.

    bucket(token) = first 8 md5 hex chars mod dim; value = token count
    (optionally scaled by the standard smoothed idf
    ln((N+1)/(df+1)) + 1, computed per BUCKET — hash-collision
    semantics, exactly what feature hashing means); optionally
    l2-normalized so downstream cosine is a plain dot product.

    Plan shape: explode -> groupBy (id, bucket) -> one groupBy(id)
    building the dense vector via an aggregate over collected (bucket,
    value) structs — two shuffles on the doc id, map-side combine on
    both, output |docs| rows of dim doubles. No vocabulary table at
    any point: the reason the trick survives 100 TB corpora with
    unbounded vocabularies.
    """
    if dim < 1:
        raise ValueError("dim must be >= 1")
    bucket = (F.conv(F.substring(F.md5(F.col("w")), 1, 8), 16, 10)
              .cast("long") % dim).cast("int")
    toks = (df.select(id_col,
                      F.explode(tokens(F.col(text_col))).alias("w"))
            .filter(F.col("w") != ""))
    bycell = (toks.withColumn("b", bucket)
              .groupBy(id_col, "b")
              .agg(F.count(F.lit(1)).cast("double").alias("v")))
    if idf:
        n_docs = df.select(F.count(F.lit(1)).alias("n")).first()["n"]
        dfreq = (bycell.groupBy("b")
                 .agg(F.count(F.lit(1)).alias("df")))
        bycell = (bycell.join(F.broadcast(dfreq), "b")
                  .withColumn(
                      "v", F.col("v")
                      * (F.log((F.lit(float(n_docs)) + 1.0)
                               / (F.col("df") + 1.0)) + 1.0))
                  .drop("df"))
    cells = F.array_agg(F.struct("b", "v")).alias("cells")
    dense = F.aggregate(
        "cells",
        F.array_repeat(F.lit(0.0), dim),
        lambda acc, c: F.transform(
            acc, lambda x, i: F.when(i == c["b"], x + c["v"])
            .otherwise(x)))
    out = (bycell.groupBy(id_col).agg(cells)
           .withColumn("embedding", dense)
           .drop("cells"))
    if l2_normalize:
        nrm = F.sqrt(F.aggregate(
            "embedding", F.lit(0.0), lambda a, x: a + x * x))
        out = out.withColumn(
            "embedding",
            F.transform("embedding",
                        lambda x: F.coalesce(F.try_divide(x, nrm),
                                             F.lit(0.0))))
    return out


def bpe_encode(df: DataFrame, merges, id_col: str = "doc_id",
               text_col: str = "text", end_token: str = "</w>",
               checkpoint_every: int = 4) -> DataFrame:
    """Apply an ordered BPE merge list (from ``learn_bpe_merges``) to
    every document — the APPLY half of the tokenizer story, run the way
    a 100 TB tokenization job amortizes it:

    - encode each DISTINCT word once (the corpus collapses to its
      vocabulary before any merge work — Zipf makes this table orders
      of magnitude smaller than the corpus);
    - each merge is the same native greedy-left fold the trainer uses
      (``_bpe_merge_pair``: no Python UDF), with a localCheckpoint
      every ``checkpoint_every`` merges so the expression tree stays
      bounded however long the merge list is;
    - one shuffle join hands the encoded segmentation back to the
      (doc, position) word stream, and one groupBy(doc) reassembles
      order via an array_sort over (pos, syms) structs.

    Documents with no tokens keep a row with an empty token array (the
    totality contract the d-series expects). Returns
    ``(id_col, tokens array<string>, n_subtokens int)``.
    """
    word_stream = (df.select(
        id_col,
        F.posexplode(tokens(F.col(text_col))).alias("pos", "word"))
        .filter(F.col("word") != ""))
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.col("word").substr(i, F.lit(1)))
    enc = (word_stream.select("word").distinct()
           .withColumn("syms",
                       F.concat(chars, F.array(F.lit(end_token)))))
    for i, (a, b) in enumerate(merges):
        enc = enc.withColumn("syms", _bpe_merge_pair(F.col("syms"), a, b))
        if (i + 1) % checkpoint_every == 0:
            enc = checkpoint(enc)
    assembled = (word_stream.join(enc, "word")
                 .groupBy(id_col)
                 .agg(F.flatten(F.transform(
                     F.array_sort(F.collect_list(
                         F.struct("pos", "syms"))),
                     lambda s: s["syms"])).alias("tokens")))
    return (df.select(id_col).distinct()
            .join(assembled, id_col, "left")
            .select(id_col,
                    F.coalesce("tokens", F.array().cast("array<string>"))
                    .alias("tokens"))
            .withColumn("n_subtokens", F.size("tokens")))


def perplexity_buckets(df: DataFrame, fractions=(1.0 / 3, 2.0 / 3),
                       id_col: str = "doc_id", text_col: str = "text",
                       alpha: float = 0.4,
                       ref: DataFrame | None = None,
                       exact: bool = True,
                       approx_accuracy: int = 10000,
                       counts: tuple[DataFrame, DataFrame, DataFrame]
                       | None = None) -> DataFrame:
    """CCNet-style LM-quality bucketing (Wenzek et al. 2020): score
    every document with the Stupid Backoff bigram LM, then split the
    corpus into head / middle / tail by exact score quantiles —
    the standard pre-training data triage (keep head, sample middle,
    drop tail).

    ``fractions`` are the two ascending cut points (default thirds).
    Buckets: ``tail`` = score below the lower cut, ``middle`` in
    between, ``head`` at or above the upper cut — CCNet orders by
    perplexity where LOW is good; our score is avg log-probability
    where HIGH is good, so head = highest scores. Documents with < 2
    tokens score NULL and land in ``unscored`` (kept total, like the
    scorer itself).

    Scale shape: scoring is the bigram_lm_score pass; the quantiles are
    ONE exact percentile aggregate over the per-document score table
    (|docs| doubles, not corpus tokens) broadcast back as a 1-row
    join — the calibration path. At 100 TB-of-docs scale swap the
    exact percentile for ``exact=False`` (percentile_approx — same
    plan, bounded sketch state) or calibrate the two cut constants on
    a sample, CCNet's own procedure; classification itself is
    map-side either way.
    Comparisons use the ROUNDED (6-place) scores on both engines so
    the bucket edges are engine-stable.
    """
    lo, hi = fractions
    if not (0.0 < lo < hi < 1.0):
        raise ValueError("fractions must be ascending in (0, 1)")
    scored = bigram_lm_score(df, id_col=id_col, text_col=text_col,
                             alpha=alpha, ref=ref, counts=counts)
    if exact:
        pct = [F.percentile("lm_bigram", F.lit(lo)).alias("t_lo"),
               F.percentile("lm_bigram", F.lit(hi)).alias("t_hi")]
    else:
        # the billions-of-docs path: bounded-state sketch cuts (same
        # plan shape, same downstream classification; bucket edges can
        # move by the sketch's rank error only)
        pct = [F.percentile_approx("lm_bigram", F.lit(lo),
                                   F.lit(approx_accuracy)).alias("t_lo"),
               F.percentile_approx("lm_bigram", F.lit(hi),
                                   F.lit(approx_accuracy)).alias("t_hi")]
    thr = scored.agg(*pct)
    return (scored.join(F.broadcast(thr))
            .withColumn(
                "bucket",
                F.when(F.col("lm_bigram").isNull(), "unscored")
                .when(F.col("lm_bigram") < F.col("t_lo"), "tail")
                .when(F.col("lm_bigram") < F.col("t_hi"), "middle")
                .otherwise("head"))
            .drop("t_lo", "t_hi"))


def zipf_fit(df: DataFrame, top_n: int = 1000,
             text_col: str = "text") -> DataFrame:
    """OLS fit of the Zipf rank-frequency law over the corpus head:
    ln(freq) ~ slope * ln(rank) + intercept on the ``top_n``
    most-frequent tokens (count-desc, token-asc tiebreak). The head
    restriction is both the statistical convention (Zipf holds in the
    head; the tail is noise) and the scale discipline: the global rank
    is assigned AFTER a distributed TakeOrdered reduces the vocabulary
    to top_n rows, so the only global window runs over <= top_n rows,
    never over the full vocabulary. The regression itself is native
    ``regr_slope``/``regr_intercept``/``regr_r2`` aggregates (one
    pass, both engines implement the same closed forms).

    Returns one row: (n_fit, slope, intercept, r2), rounded to 6.
    A head with a single distinct frequency (zero-variance target)
    fits slope 0 with r2 = 1.0 — Spark and DuckDB agree on that
    convention (pinned in tests).
    """
    from pyspark.sql import Window

    counts = (df.select(F.explode(tokens(F.col(text_col))).alias("w"))
              .filter(F.col("w") != "")
              .groupBy("w").agg(F.count(F.lit(1)).alias("c")))
    head = (counts.orderBy(F.col("c").desc(), F.col("w").asc())
            .limit(top_n)
            .withColumn("r", F.row_number().over(
                Window.orderBy(F.col("c").desc(), F.col("w").asc()))))
    lc, lr = F.log(F.col("c").cast("double")), F.log(F.col("r").cast("double"))
    return head.agg(
        F.count(F.lit(1)).alias("n_fit"),
        F.round(F.regr_slope(lc, lr), 6).alias("slope"),
        F.round(F.regr_intercept(lc, lr), 6).alias("intercept"),
        F.round(F.regr_r2(lc, lr), 6).alias("r2"))


def temperature_mix(df: DataFrame, budget_tokens: int,
                    alpha: float = 0.3, source_col: str = "source",
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Temperature-based source mixing (the mT5 / multilingual-corpus
    recipe, Xue et al. 2021): sample each source s with probability
    p_s ∝ n_s^alpha (alpha < 1 upweights small sources), scaled to a
    total token ``budget_tokens``, keeping documents via a
    DETERMINISTIC md5 hash draw — so the sample is reproducible,
    engine-independent, and join-stable (the d10/d24 convention).

    Per source: rate_s = min(1, budget * p_s / n_s), rounded to 6 (libm
    pow parity across engines); a doc is kept iff its 32-bit md5
    uniform < rate_s. Sources whose computed rate saturates at 1 are
    kept whole (run more epochs on them downstream, the paper's move).

    Scale shape: ONE aggregation collapses the corpus to per-source
    token counts (|sources| rows — a dimension, collected driver-side
    like a codebook); rates ride a broadcast join; the keep decision is
    map-side. Returns the input columns + (n_tokens, rate, keep).
    """
    if budget_tokens <= 0:
        raise ValueError("budget_tokens must be positive")
    n_tok = token_count(F.col(text_col)).cast("long")
    # rates stay ENGINE-SIDE end-to-end (per-source aggregate -> 1-row
    # total broadcast -> F.round): Spark's HALF_UP round matches the
    # DuckDB oracle's, where a driver-side Python round() (half-even)
    # could flip a 6th-decimal knife edge. NULL token sums (all-null
    # texts) coalesce to 0 -> rate 0.0 (nothing measurable to keep).
    counts = (df.groupBy(source_col)
              .agg(F.coalesce(F.sum(n_tok), F.lit(0)).alias("n_s")))
    tot = counts.agg(F.sum(F.pow("n_s", alpha)).alias("tot"))
    rates_df = (counts.join(F.broadcast(tot))
                .withColumn(
                    "rate",
                    F.when(F.col("n_s") > 0,
                           F.round(F.least(
                               F.lit(1.0),
                               budget_tokens * F.pow("n_s", alpha)
                               / F.col("tot") / F.col("n_s")), 6))
                    .otherwise(F.lit(0.0)))
                .select(source_col, "rate"))
    # null-safe equi-join so NULL-source rows keep their row (matched
    # to the NULL-key rate) instead of silently vanishing
    return (df.withColumn("n_tokens", n_tok)
            .join(F.broadcast(rates_df.withColumnRenamed(
                source_col, "_mix_src")),
                F.col(source_col).eqNullSafe(F.col("_mix_src")))
            .drop("_mix_src")
            .withColumn("keep", md5_uniform(F.col(id_col))
                        < F.col("rate")))


def leakage_safe_split(df: DataFrame, test_frac: float = 0.1,
                       key_col: str | None = None,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Train/test split that cannot leak duplicates across the
    boundary: the split decision hashes a CONTENT key, not the row id,
    so every copy (and token-reordering) of the same document lands on
    the same side — the hygiene step C4/Pile-style corpora apply
    before held-out evaluation means anything.

    Default key is ``fingerprint(text)`` (order-insensitive exact-dup
    cluster); pass ``key_col`` to split by a precomputed cluster id
    instead (e.g. connected-component labels from near-dup pairs, the
    stronger variant). Assignment: 32-bit md5 uniform of the key <
    test_frac → 'test', else 'train' — deterministic, engine-portable,
    map-side after one hash (no shuffle, no RNG seed to disagree on).
    """
    if not 0.0 < test_frac < 1.0:
        raise ValueError("test_frac must be in (0, 1)")
    key = F.col(key_col) if key_col else fingerprint(F.col(text_col))
    return df.withColumn(
        "split", F.when(md5_uniform(key) < test_frac, "test")
        .otherwise("train"))


def normalize_text(col) -> Column:
    """Canonical text form for normalization-aware dedup: casefold,
    strip every non-alphanumeric-non-space character, collapse runs of
    whitespace, trim. "Same   Text!" and "same text" share one
    canonical form, so an exact-dup pass over the normalized column
    catches near-identical boilerplate raw md5 misses — the standard
    curation step between raw exact-dedup and MinHash. Pure native
    expressions (simple character classes, identical under Java regex
    and RE2 — the cross-engine contract d13 relies on)."""
    c = F.col(col) if isinstance(col, str) else col
    s = F.lower(c)
    s = F.regexp_replace(s, "[^a-z0-9 ]", "")
    s = F.regexp_replace(s, " +", " ")
    return F.trim(s)


# Unicode scripts the profiler distinguishes, in TIE-PRECEDENCE order
# (first listed wins an equal-count tie). Java regex spells the
# property \p{IsLatin}, RE2 \p{Latin} — same char classes (verified
# count-identical on mixed fixtures), so the DuckDB mirror just drops
# the "Is".
_SCRIPTS = (("latin", r"\p{IsLatin}"), ("cyrillic", r"\p{IsCyrillic}"),
            ("greek", r"\p{IsGreek}"), ("han", r"\p{IsHan}"))


def script_profile(col) -> Column:
    """Per-script letter counts (Latin/Cyrillic/Greek/Han) as a
    struct — the writing-system histogram multilingual curation
    routes on (wrong-script spam, transliteration mixes, CJK in a
    'latin' shard). Digits/punctuation are script=Common and count
    for nobody. Native regexp_count: map-side, zero shuffle."""
    c = F.col(col) if isinstance(col, str) else col
    return F.struct(*[F.regexp_count(c, F.lit(rx)).cast("long").alias(n)
                      for n, rx in _SCRIPTS])


def dominant_script(col) -> Column:
    """argmax of script_profile with the fixed _SCRIPTS precedence on
    ties — a total, engine-portable rule (pure integer compares)."""
    p = script_profile(col)
    m = F.greatest(*[p[n] for n, _ in _SCRIPTS])
    out = F.lit(_SCRIPTS[-1][0])
    for name, _ in reversed(_SCRIPTS[:-1]):
        out = F.when(p[name] == m, F.lit(name)).otherwise(out)
    return out


def countmin_sketch(df: DataFrame, text_col: str = "text",
                    depth: int = 4, width: int = 512,
                    seed: str = "cms") -> DataFrame:
    """Count-Min sketch of the token stream (Cormode & Muthukrishnan
    2005) as a (row, bucket, n) table: row r hashes token t to
    ``md5_bucket(seed + r + ':' + t, width)`` and sums occurrences.

    The table IS the mergeable partial: shard sketches add
    bucket-wise (the groupBy sum), so a 100 TB corpus builds depth x
    width counters in one token-stream pass + one tiny shuffle of at
    most depth*width rows per partition — no vocabulary materializes
    anywhere, which is the point vs a groupBy count at web scale.
    Estimates OVERESTIMATE (never under): true(t) <= est(t) <=
    true(t) + eps*N with eps ~ e/width at depth ln(1/delta) — d58
    gate-checks the deterministic half of that contract. Determinism:
    md5 bucketing, no floats, so the sketch is a pure function of the
    corpus and (depth, width, seed)."""
    if depth < 1 or width < 1:
        raise ValueError("depth and width must be >= 1")
    toks = df.select(F.explode(tokens(F.col(text_col))).alias("_w"))
    rows = toks.select(
        "_w", F.explode(F.array(*[F.lit(r) for r in range(depth)]))
        .alias("row"))
    b = md5_bucket(F.concat(F.lit(seed), F.col("row"), F.lit(":"),
                            F.col("_w")), width)
    return (rows.select("row", b.cast("long").alias("bucket"))
            .groupBy("row", "bucket")
            .agg(F.count(F.lit(1)).alias("n")))


def countmin_estimate(sketch: DataFrame, targets: DataFrame,
                      token_col: str = "token", depth: int = 4,
                      width: int = 512, seed: str = "cms") -> DataFrame:
    """Point-query the CMS table: est(t) = min over rows of the
    token's bucket counter (0 when the bucket is empty — only possible
    for tokens absent from the corpus). ``targets`` is small (the
    probe set), so it broadcasts against the depth*width-row sketch;
    (depth, width, seed) must match the build."""
    probes = targets.select(
        F.col(token_col).alias("_t"),
        F.explode(F.array(*[F.lit(r) for r in range(depth)]))
        .alias("row"))
    b = md5_bucket(F.concat(F.lit(seed), F.col("row"), F.lit(":"),
                            F.col("_t")), width)
    probes = probes.select("_t", "row", b.cast("long").alias("bucket"))
    return (F.broadcast(probes)
            .join(sketch, ["row", "bucket"], "left")
            .groupBy("_t")
            .agg(F.min(F.coalesce(F.col("n"), F.lit(0))).alias("n_est"))
            .select(F.col("_t").alias(token_col), "n_est"))


def url_host(col) -> Column:
    """Normalized host of a URL — the key every URL-level curation
    stage groups or filters on (C4/RefinedWeb-style domain blocklists,
    per-domain caps, source attribution). Lowercases, strips the
    scheme, drops port/path/query/fragment, and removes a leading
    ``www.``; malformed URLs (no scheme) normalize to '' so they
    route to a quarantine bucket instead of crashing the scan. Pure
    native expressions, Java-regex/RE2-identical character classes
    (the d13 cross-engine contract), map-side only — a 100 TB corpus
    normalizes in the scan with zero shuffle."""
    c = F.col(col) if isinstance(col, str) else col
    host = F.regexp_extract(F.lower(c),
                            "^[a-z][a-z0-9+.-]*://([^/:?#]+)", 1)
    return F.regexp_replace(host, "^www\\.", "")


def classifier_weights(dim: int = 64, seed: str = "clf") -> Column:
    """Deterministic integer weight vector for classifier_scores: one
    md5_uniform draw per hash bucket, floor-quantized to an integer in
    [-10000, 9999] (floor, not round — round's half-up boundary could
    disagree across engines on an exact .5; floor of a non-integer
    double is boundary-free, and (20000h + 10000)/2^32 is never an
    integer because 10000·odd has only 2^4 twos). The oracle mirror is
    ``CAST(floor(u * 20000) AS BIGINT) - 10000``."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda b: (F.floor(md5_uniform(
            F.concat(F.lit(seed + "w:"), b.cast("string"))) * 20000)
            - 10000).cast("long"))


def classifier_scores(df: DataFrame, dim: int = 64, seed: str = "clf",
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """fastText-style linear quality classifier over hashing-TF
    features — the learned-filter stage (CCNet / LLaMA "Wikipedia-like"
    classifier) as a Spark plan: score = sigmoid(w·x / (10000·|x|)),
    keep iff score >= 0.5. Weights here are the deterministic
    classifier_weights stand-in so the mechanism is oracle-checkable
    end-to-end; swap in trained parameters (same integer quantization,
    a standard deployment trick) and the plan is unchanged.

    Numerics contract: w·x is EXACT integer arithmetic (integer token
    counts × integer weights, fold order irrelevant), so the keep
    decision (w·x >= 0, by sigmoid monotonicity) has no float boundary
    at all; the only float op is one exp() on an identical double —
    libm-parity, round-6 stable (the d37 convention).

    Plan shape: hashing_tf's two doc-keyed shuffles, then everything
    is map-side — the weight array is a dimension-sized literal
    expression folded per row (no join, no collect, no broadcast
    table). Returns (id, n_tokens, raw, score); raw is the integer
    logit numerator."""
    vecs = hashing_tf(df, dim=dim, id_col=id_col, text_col=text_col)
    w = classifier_weights(dim, seed)
    raw = F.aggregate(
        F.zip_with("embedding", w, lambda v, wi: v * wi.cast("double")),
        F.lit(0.0), lambda a, x: a + x).cast("long")
    tot = F.aggregate("embedding", F.lit(0.0),
                      lambda a, x: a + x).cast("long")
    out = vecs.select(id_col, raw.alias("raw"), tot.alias("n_tokens"))
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(
        -(F.col("raw").cast("double"))
        / (F.lit(10000.0) * F.col("n_tokens"))))
    return (out.filter(F.col("n_tokens") > 0)
            .withColumn("score", score)
            .withColumn("keep", F.col("raw") >= 0))


def kmv_sketch(df: DataFrame, key_col: str, group_col: str = "source",
               k: int = 64, buckets: int = 8) -> DataFrame:
    """KMV / bottom-k distinct sketch per group (Bar-Yossef et al.
    2002; the theta-sketch family's exact-merge member): the ``k``
    smallest 40-bit md5 hashes of the group's DISTINCT keys, with
    rank. Unlike HLL (q102) the sketch supports SET ALGEBRA — the
    k smallest of a union of sketches IS the union's sketch, so
    intersection/Jaccard estimates fall out of pure integer counting
    (see ``kmv_pair_stats``), which register-based HLL cannot do.

    Exact integer contract: hashes, ranks and the k-th minimum are
    integers; downstream estimates use floor division only — fully
    SQL-replayable, no float convention.

    Scale shape: distinct on (group, hash), then TWO bounded
    row_number windows — the first partitioned by (group, hash mod
    ``buckets``) so no single sort partition owns a whole group's
    distinct set (the skew discipline), keeping <= k per bucket; the
    second ranks the surviving <= k * buckets candidates per group.
    Never a global window, never an unbounded per-group state."""
    h = (df.select(F.col(group_col).alias("_g"),
                   F.conv(F.substring(F.md5(F.col(key_col)), 1, 10),
                          16, 10).cast("long").alias("h"))
         .distinct())
    w1 = W.partitionBy("_g", F.col("h") % buckets).orderBy("h")
    cand = (h.withColumn("_rn", F.row_number().over(w1))
            .filter(F.col("_rn") <= k).drop("_rn"))
    w2 = W.partitionBy("_g").orderBy("h")
    return (cand.withColumn("rn", F.row_number().over(w2))
            .filter(F.col("rn") <= k)
            .select(F.col("_g").alias(group_col), "h", "rn"))


def kmv_estimates(sketch: DataFrame, k: int = 64,
                  group_col: str = "source") -> DataFrame:
    """Distinct-count estimate from a KMV sketch: (k-1) * 2^40 div
    kth_min when the sketch is full, the exact member count when the
    group has fewer than ``k`` distinct keys (the sketch then IS the
    set). Integer floor-div only."""
    return (sketch.groupBy(group_col)
            .agg(F.count(F.lit(1)).alias("n_in_sketch"),
                 F.max(F.when(F.col("rn") == k, F.col("h")))
                 .alias("kth"))
            .select(group_col, "n_in_sketch",
                    F.coalesce("kth", F.lit(0)).alias("kth"),
                    F.when(F.col("n_in_sketch") < k,
                           F.col("n_in_sketch").cast("long"))
                    .otherwise(F.expr(
                        f"({k - 1} * 1099511627776L) div kth"))
                    .alias("est_distinct")))


def kmv_pair_stats(sketch: DataFrame, k: int = 64,
                   group_col: str = "source",
                   groups: list | None = None) -> DataFrame:
    """Pairwise set-algebra estimates from full KMV sketches: for each
    group pair (a < b), merge the two sketches (k smallest of the
    distinct union — the exact KMV merge), count how many union-sketch
    members appear in BOTH input sketches (``matches``), and derive
    jaccard_ppm = matches * 1e6 div k,
    union_est   = (k-1) * 2^40 div union_kth,
    inter_est   = matches * union_est div k — all floor-div integers.
    Assumes every group's sketch is full (callers with small groups
    already have exact sets and don't need estimates).

    Plan: the pair frame is |groups|^2 rows (tiny — group keys, not
    data) broadcast onto the k-row sketches; merge + match are
    equi-joins keyed on (pair, hash); nothing touches the raw data
    again. Callers that know their (bounded) group universe should
    pass it as ``groups`` — the pair frame then becomes a
    driver-literal LocalTableScan, which makes the O(|groups|^2)
    bound PROVABLE from the physical plan (the BNLJ tiny-build-side
    audit in tests/test_plan_shapes.py) instead of inferred; pairs
    whose groups have no sketch rows drop out in the inner merge
    join exactly as they do on the distinct-derived path."""
    sk = sketch.select(F.col(group_col).alias("_s"), "h")
    if groups is not None:
        gl = sorted(groups)
        pairs = sketch.sparkSession.createDataFrame(
            [(a, b) for i, a in enumerate(gl) for b in gl[i + 1:]],
            schema=["a", "b"])
    else:
        gs = sk.select("_s").distinct()
        pairs = (gs.select(F.col("_s").alias("a"))
                 .crossJoin(F.broadcast(
                     gs.select(F.col("_s").alias("b"))))
                 .filter(F.col("a") < F.col("b")))
    uh = (pairs.join(sk.withColumnRenamed("_s", "a"), "a")
          .unionByName(pairs.join(sk.withColumnRenamed("_s", "b"), "b")
                       .select("a", "b", "h"))
          .select("a", "b", "h").distinct())
    w = W.partitionBy("a", "b").orderBy("h")
    usk = (uh.withColumn("_rn", F.row_number().over(w))
           .filter(F.col("_rn") <= k))
    ukth = (usk.groupBy("a", "b")
            .agg(F.max(F.when(F.col("_rn") == k, F.col("h")))
                 .alias("union_kth")))
    m = (usk.join(sk.select(F.col("_s").alias("a"),
                            F.col("h")), ["a", "h"])
         .join(sk.select(F.col("_s").alias("b"), F.col("h")),
               ["b", "h"])
         .groupBy("a", "b").agg(F.count(F.lit(1)).alias("matches")))
    return (ukth.join(m, ["a", "b"], "left")
            .select("a", "b",
                    F.coalesce("matches", F.lit(0)).cast("long")
                    .alias("matches"),
                    F.col("union_kth"),
                    F.expr(f"({k - 1} * 1099511627776L) div union_kth")
                    .alias("union_est"))
            .withColumn("jaccard_ppm",
                        F.expr(f"matches * 1000000 div {k}"))
            .withColumn("inter_est",
                        F.expr(f"matches * union_est div {k}")))


# PII patterns: conservative character-class-only regexes chosen to
# behave identically under Java regex (Spark) and RE2 (DuckDB) — no
# lookaround, no backrefs; the d57 property-class parity discipline.
# Scrub order is FIXED (email, ip, ssn, phone): the patterns are
# mutually non-overlapping on any input, but a fixed order makes the
# composition a pure function either way.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
     "<EMAIL>"),
    ("ip", r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}", "<IP>"),
    ("ssn", r"\d{3}-\d{2}-\d{4}", "<SSN>"),
    ("phone", r"\d{3}-\d{3}-\d{4}", "<PHONE>"),
]


def scrub_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII redaction — the compliance pass every training-data
    pipeline runs before text leaves curation: replace emails, IPv4
    addresses, SSN-shaped and phone-shaped numbers with typed
    placeholder tokens, and report per-category match counts (counted
    on the ORIGINAL text) plus ``n_residual`` — matches remaining
    after scrubbing, which a correct pass leaves at zero (the
    self-audit column downstream gates pin).

    All native expressions: regexp_count per category + a chained
    regexp_replace fold; map-side only, no shuffle, no UDF — one scan
    at 100 TB. Returns the input columns plus (scrubbed, n_email,
    n_ip, n_ssn, n_phone, n_residual)."""
    c = F.col(text_col)
    out = df
    for name, pat, _tok in PII_PATTERNS:
        out = out.withColumn(f"n_{name}",
                             F.regexp_count(c, F.lit(pat)).cast("long"))
    scrubbed = c
    for _name, pat, tok in PII_PATTERNS:
        scrubbed = F.regexp_replace(scrubbed, pat, tok)
    out = out.withColumn("scrubbed", scrubbed)
    residual = F.lit(0).cast("long")
    for _name, pat, _tok in PII_PATTERNS:
        residual = residual + F.regexp_count(F.col("scrubbed"),
                                             F.lit(pat)).cast("long")
    return out.withColumn("n_residual", residual)


# Unicode confusables: the Cyrillic/Greek lookalikes spam and
# SEO-evasion text swaps for Latin letters (a subset of Unicode
# TR39's confusable table — the high-frequency single-codepoint
# homoglyphs). ONE definition used by normalize and count; the
# DuckDB mirror is translate()/regexp with the same literals.
HOMOGLYPHS = "аеорсхуο"          # Cyrillic a e o p c x y, Greek o
HOMOGLYPH_LATIN = "aeopcxyo"


def homoglyph_normalize(col) -> Column:
    """Map confusable Cyrillic/Greek codepoints onto their Latin
    lookalikes — the canonicalization that makes homoglyph-evading
    duplicates (spam mirrors, SEO spinners, filter-dodging reposts)
    collapse under EXACT dedup again. Pure translate(): map-side,
    codepoint-wise, no UDF."""
    c = F.col(col) if isinstance(col, str) else col
    return F.translate(c, HOMOGLYPHS, HOMOGLYPH_LATIN)


def homoglyph_count(col) -> Column:
    """Number of confusable codepoints present (the spoof-intensity
    signal a routing filter thresholds): chars remaining after
    deleting everything NOT in the confusable set."""
    c = F.col(col) if isinstance(col, str) else col
    return F.length(F.regexp_replace(
        c, f"[^{HOMOGLYPHS}]", "")).cast("long")


_SRT_TIME = (r"(\d{2}):(\d{2}):(\d{2}),(\d{3})"
             r" --> "
             r"(\d{2}):(\d{2}):(\d{2}),(\d{3})")


def srt_cues(df: DataFrame, srt_col: str = "srt",
             id_col: str = "doc_id") -> DataFrame:
    """Parse SubRip (.srt) subtitle text — the caption format most
    speech/video corpora ship transcripts in — into one row per cue:
    (id, cue_idx, seq, start_ms, end_ms, text). Entirely native
    expressions: blank-line block split, posexplode, then row-wise
    regexp_extract on the timecode line (whole-stage codegen; no
    UDF) and integer millisecond arithmetic. Single-line cue bodies
    (the fixture contract); a malformed timecode yields NULL ms
    columns rather than a crash, so a validity filter downstream is
    one IS NOT NULL."""
    def ms(base: int) -> Column:
        h = F.regexp_extract("_blk", _SRT_TIME, base + 1)
        m = F.regexp_extract("_blk", _SRT_TIME, base + 2)
        s = F.regexp_extract("_blk", _SRT_TIME, base + 3)
        f = F.regexp_extract("_blk", _SRT_TIME, base + 4)
        raw = (h.cast("long") * 3600000 + m.cast("long") * 60000
               + s.cast("long") * 1000 + f.cast("long"))
        return F.when(F.regexp_like(F.col("_blk"), F.lit(_SRT_TIME)),
                      raw).otherwise(F.lit(None))
    # trim() strips spaces only, NOT newlines: a trailing blank block
    # from the final cue's \n\n must be dropped, and seq parses under
    # a match guard (ANSI mode makes cast('' AS BIGINT) an error, not
    # a NULL)
    blocks = (df.select(F.col(id_col),
                        F.posexplode(
                            F.split(F.trim(F.col(srt_col)), "\n\n"))
                        .alias("cue_idx", "_blk"))
              .filter(F.col("_blk").rlike(r"\S")))
    lines = F.split("_blk", "\n")
    return blocks.select(
        id_col, "cue_idx",
        F.when(F.col("_blk").rlike(r"^\d+"),
               F.regexp_extract("_blk", r"^(\d+)", 1).cast("long"))
        .alias("seq"),
        ms(0).alias("start_ms"), ms(4).alias("end_ms"),
        lines.getItem(2).alias("text"))


TRACKING_PARAMS = ("utm_", "fbclid", "gclid", "mc_cid", "mc_eid")


def with_canonical_url(df: DataFrame, url_col: str,
                       out_col: str = "canon_url") -> DataFrame:
    """Canonicalize URLs for crawl dedup — the normalization pass
    that collapses the dozens of byte-distinct spellings every
    crawled page arrives under: scheme and host casefolded,
    scheme-default ports stripped (http:80 / https:443 — other ports
    are real), the trailing path slash dropped (except root),
    fragments discarded (client-side only), tracking parameters
    (utm_*, fbclid, gclid, mailchimp ids) removed and the surviving
    query parameters SORTED (order never changes the resource).

    Spark-native parse: parse_url() for the structural parts (the
    idiomatic JVM path), array filter/sort for the params — no UDF,
    map-side only, named intermediate columns for the param exprs.
    The d69 oracle re-implements the whole pipeline with independent
    regexp/list machinery in DuckDB, so the two parsers cross-check
    each other over the fixture axes."""
    c = F.col(url_col)
    proto = F.lower(F.parse_url(c, F.lit("PROTOCOL")))
    host = F.lower(F.parse_url(c, F.lit("HOST")))
    auth = F.parse_url(c, F.lit("AUTHORITY"))
    port = F.regexp_extract(auth, r":(\d+)$", 1)
    keep_port = (
        (port != "")
        & ~((proto == "http") & (port == "80"))
        & ~((proto == "https") & (port == "443")))
    path = F.coalesce(F.parse_url(c, F.lit("PATH")), F.lit(""))
    query = F.coalesce(F.parse_url(c, F.lit("QUERY")), F.lit(""))
    d = (df.withColumn("_proto", proto).withColumn("_host", host)
         .withColumn("_port", F.when(keep_port,
                                     F.concat(F.lit(":"), port))
                     .otherwise(F.lit("")))
         .withColumn("_path", path).withColumn("_q", query))
    d = d.withColumn(
        "_path",
        F.when(F.col("_path") == "", F.lit("/"))
        .otherwise(F.col("_path")))
    d = d.withColumn(
        "_path",
        F.when((F.length("_path") > 1)
               & F.col("_path").endswith("/"),
               F.expr("substring(_path, 1, length(_path) - 1)"))
        .otherwise(F.col("_path")))
    tracked = " or ".join(
        ["startswith(x, 'utm_')"]
        + [f"startswith(x, '{p}=')" for p in TRACKING_PARAMS[1:]])
    d = d.withColumn(
        "_params",
        F.expr(f"array_join(array_sort(filter(split(_q, '&'), "
               f"x -> x != '' AND NOT ({tracked}))), '&')"))
    out = F.concat(
        F.col("_proto"), F.lit("://"), F.col("_host"), F.col("_port"),
        F.col("_path"),
        F.when(F.col("_params") != "",
               F.concat(F.lit("?"), F.col("_params")))
        .otherwise(F.lit("")))
    return (d.withColumn(out_col, out)
            .drop("_proto", "_host", "_port", "_path", "_q",
                  "_params"))


def pseudonymize(col, salt: str = "s1", width: int = 12) -> Column:
    """Keyed pseudonymization — the privacy step between raw ids and
    analysts: p = 'u_' + md5(salt:id) prefix. Deterministic per
    (salt, id) so referential integrity survives (joins, distinct
    counts and group-bys behave identically on pseudonyms), yet the
    mapping is not invertible without the salt table. Rotating the
    salt rotates the entire pseudonym space — the re-keying GDPR
    erasure flows use. Collision odds at ``width`` hex chars are
    n^2 / 2^(4*width); callers pin n_distinct(raw) ==
    n_distinct(pseudo) as the online check (d72)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.concat(
        F.lit("u_"),
        F.substring(F.md5(F.concat(F.lit(f"{salt}:"),
                                   c.cast("string"))), 1, width))


def sample_allocation(counts: DataFrame, budget: int,
                      key_cols: list[str],
                      count_col: str = "c") -> DataFrame:
    """Hamilton/Hare largest-remainder apportionment of an integer
    sample ``budget`` across strata — the exact-total allocator a
    curation pipeline needs when "sample 10k docs, stratified by
    (lang, length)" must mean EXACTLY 10k (rate-based sampling like
    temperature_mix only hits the budget in expectation). Each
    stratum gets floor(budget * c / total); the leftover
    budget - sum(floors) units (provably < |strata|) go one each to
    the largest remainders budget * c % total, ties broken by
    ``key_cols`` ascending — a pure integer function of (counts,
    budget) both engines replay identically.

    Scale shape: the input is already a per-stratum aggregate
    (|strata| rows — a dimension table), so the three whole-table
    windows (total, leftover, remainder rank) run over |strata| rows,
    never the corpus — the zipf_fit bounded-window convention.
    Returns key_cols + (c, floor_alloc, rem, alloc); sum(alloc) ==
    budget exactly."""
    from pyspark.sql import Window as W

    if budget <= 0:
        raise ValueError("budget must be positive")
    w_all = W.partitionBy()
    keys = [F.col(k).asc() for k in key_cols]
    f = (counts.withColumn("_tot", F.sum(count_col).over(w_all))
         .withColumn("floor_alloc",
                     F.expr(f"{budget} * {count_col} div _tot"))
         .withColumn("rem", F.expr(f"{budget} * {count_col} % _tot")))
    r = (f.withColumn("_left",
                      F.lit(budget) - F.sum("floor_alloc").over(w_all))
         .withColumn("_rk", F.row_number().over(
             W.orderBy(F.col("rem").desc(), *keys))))
    return (r.withColumn("alloc",
                         F.col("floor_alloc")
                         + (F.col("_rk") <= F.col("_left"))
                         .cast("long"))
            .drop("_tot", "_left", "_rk"))


def annotator_agreement(df: DataFrame, a_col: str,
                        b_col: str) -> DataFrame:
    """Inter-annotator agreement in EXACT integers — the label-QA
    readout every human/model-labeled training set needs (Cohen
    1960). Observed agreement po = n_agree / N and chance agreement
    pe = sum_c (N_a(c) * N_b(c)) / N^2 are emitted as ppm floor
    divisions; Cohen's kappa = (po - pe) / (1 - pe) is emitted
    UNDIVIDED as (kappa_num, kappa_den) = (n_agree*N - S, N*N - S),
    S = sum_c N_a(c)*N_b(c) — the g31 discipline: kappa_num can be
    negative (below-chance agreement) and Spark `div` truncates
    where DuckDB `//` floors, so no division crosses the engines.

    Plan shape: one count/agree aggregate over the labels plus two
    per-class marginal aggregates joined on class (class cardinality
    rows — dimension-sized); the three 1-row frames meet in the
    documented single-row broadcast pattern. Returns one row:
    (n_items, n_agree, n_classes, po_ppm, pe_ppm, kappa_num,
    kappa_den)."""
    a, b = F.col(a_col), F.col(b_col)
    base = df.agg(F.count(F.lit(1)).alias("n_items"),
                  F.sum((a == b).cast("long")).alias("n_agree"))
    ma = df.groupBy(a.alias("_c")).agg(F.count(F.lit(1)).alias("_na"))
    mb = df.groupBy(b.alias("_c")).agg(F.count(F.lit(1)).alias("_nb"))
    s = (ma.join(mb, "_c")
         .agg(F.sum(F.col("_na") * F.col("_nb")).alias("s"),
              F.count(F.lit(1)).alias("n_classes")))
    return (base.crossJoin(s)
            .select(F.col("n_items").cast("long").alias("n_items"),
                    F.col("n_agree").cast("long").alias("n_agree"),
                    F.col("n_classes").cast("long")
                    .alias("n_classes"),
                    F.expr("n_agree * 1000000 div n_items")
                    .cast("long").alias("po_ppm"),
                    F.expr("s * 1000000 div (n_items * n_items)")
                    .cast("long").alias("pe_ppm"),
                    (F.col("n_agree") * F.col("n_items") - F.col("s"))
                    .cast("long").alias("kappa_num"),
                    (F.col("n_items") * F.col("n_items") - F.col("s"))
                    .cast("long").alias("kappa_den")))


def varint_encode(n: int) -> bytes:
    """LEB128 (protobuf-style) unsigned varint: 7 value bits per
    byte, LSB group first, high bit = continuation."""
    if n < 0:
        raise ValueError("varint is unsigned")
    out = bytearray()
    while n >= 0x80:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def postings_encode(ids) -> bytes:
    """Delta + varint posting list (the Lucene/inverted-index layout):
    the first doc id verbatim, then strictly-positive gaps, each
    LEB128-encoded. ``ids`` must be sorted strictly increasing and
    nonnegative."""
    out = bytearray()
    prev = None
    for i in ids:
        gap = i if prev is None else i - prev
        if (prev is None and gap < 0) or (prev is not None
                                          and gap <= 0):
            raise ValueError("ids must be strictly increasing and "
                             "nonnegative")
        out += varint_encode(gap)
        prev = i
    return bytes(out)


def postings_decode(buf: bytes) -> list[int]:
    """Inverse of postings_encode; raises on a dangling
    continuation bit (truncated varint)."""
    ids = []
    prev = 0
    val = 0
    shift = 0
    pending = False
    for b in buf:
        val |= (b & 0x7F) << shift
        if b & 0x80:
            shift += 7
            pending = True
            continue
        prev += val
        ids.append(prev)
        val = 0
        shift = 0
        pending = False
    if pending:
        raise ValueError("postings: truncated varint")
    return ids


def postings_varint_stats(pairs: DataFrame, term_col: str = "term",
                          doc_col: str = "doc_id") -> DataFrame:
    """Build an inverted index over (term, doc) pairs and measure the
    delta+varint compression every search/dedup index applies to its
    posting lists. One distinct + one groupBy shuffle keyed on term
    assembles each term's sorted doc-id array; an Arrow-batched
    pandas UDF runs the REAL encoder, decodes the bytes back, and
    refuses to emit on a roundtrip mismatch — so the byte counts the
    gate pins are proof the codec walked every gap. Per-term state is
    the term's posting list — the standard index-build contract
    (stopword-class terms at 100 TB get the same mitigation real
    engines use: segment-and-merge, or drop terms past a doc-freq
    cap before the groupBy). Returns per term: n_postings,
    varint_bytes, id_sum (decoded, proving the roundtrip)."""
    import pandas as pd
    from pyspark.sql import types as T

    @F.pandas_udf(T.StructType([
        T.StructField("n_postings", T.LongType()),
        T.StructField("varint_bytes", T.LongType()),
        T.StructField("id_sum", T.LongType()),
    ]))
    def _stats(ids):
        rows = []
        for lst in ids:
            lst = [int(x) for x in lst]
            buf = postings_encode(lst)
            dec = postings_decode(buf)
            if dec != lst:
                raise ValueError("postings roundtrip mismatch")
            rows.append((len(dec), len(buf), sum(dec)))
        return pd.DataFrame(rows, columns=["n_postings",
                                           "varint_bytes", "id_sum"])

    plist = (pairs.select(F.col(term_col).alias("term"),
                          F.col(doc_col).alias("doc"))
             .distinct()
             .groupBy("term")
             .agg(F.array_sort(F.collect_list("doc")).alias("_ids")))
    return (plist.withColumn("_s", _stats("_ids"))
            .select("term", F.col("_s.n_postings").alias("n_postings"),
                    F.col("_s.varint_bytes").alias("varint_bytes"),
                    F.col("_s.id_sum").alias("id_sum")))


def robots_filter(df: DataFrame, rules: DataFrame,
                  path_col: str = "path") -> DataFrame:
    """Robots-exclusion filtering with the REP longest-match rule
    (RFC 9309 / the Googlebot semantics every crawler implements):
    each path is matched against a BROADCAST rule set of
    (rule_id, rtype in {'allow','disallow'}, prefix); the matched
    rule with the longest prefix wins, exact-length ties go to
    allow, and an unmatched path is allowed with rule_id 0. The
    prefix join is a broadcast nested-loop against a constant-size
    ruleset (robots files are dimension data — tens of lines), so
    the corpus never shuffles. Returns the input plus
    (rule_id, matched_len, allowed)."""
    from pyspark.sql import Window as W

    r = F.broadcast(rules.select(
        F.col("rule_id"), F.col("rtype"), F.col("prefix"),
        F.length("prefix").alias("_plen")))
    # per-row identity: rows sharing a path must each keep their own
    # winning rule (the id never surfaces — it only scopes the argmax)
    src = df.withColumn("_rid", F.monotonically_increasing_id())
    j = src.join(r, F.col(path_col).startswith(F.col("prefix")),
                 "left")
    w = W.partitionBy("_rid").orderBy(
        F.col("_plen").desc_nulls_last(),
        (F.col("rtype") == "allow").desc_nulls_last(),
        F.col("rule_id").asc_nulls_last())
    return (j.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(*df.columns,
                    F.coalesce("rule_id", F.lit(0)).alias("rule_id"),
                    F.coalesce("_plen", F.lit(0))
                    .alias("matched_len"),
                    F.coalesce(F.col("rtype") == "allow",
                               F.lit(True)).alias("allowed")))


def registrable_domain(df: DataFrame, suffixes: DataFrame,
                       host_col: str = "host") -> DataFrame:
    """Public-suffix (eTLD+1) extraction — the Mozilla
    publicsuffix.org algorithm every crawler keys per-site state on
    (host-level grouping over-splits: blog.example.co.uk and
    www.example.co.uk are ONE site, example.co.uk): match the host
    against a BROADCAST suffix list on label boundaries (exact match
    or '.suffix' tail), take the LONGEST matching suffix, and the
    registrable domain is one more label + the suffix. A host that
    IS a public suffix has no registrable part (NULL). Suffix lists
    are dimension data (~10k lines in the wild) — the corpus never
    shuffles for the match. Returns the input plus
    (public_suffix, registrable)."""
    from pyspark.sql import Window as W

    sfx = F.broadcast(suffixes.select(
        F.col("suffix"), F.length("suffix").alias("_slen")))
    src = df.withColumn("_rid", F.monotonically_increasing_id())
    h = F.col(host_col)
    j = src.join(
        sfx, (h == F.col("suffix"))
        | h.endswith(F.concat(F.lit("."), F.col("suffix"))), "left")
    w = W.partitionBy("_rid").orderBy(F.col("_slen").desc_nulls_last())
    best = (j.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1))
    prefix = F.expr(
        f"substring({host_col}, 1, "
        f"length({host_col}) - _slen - 1)")
    label = F.element_at(F.split(prefix, "\\."), -1)
    return (best.select(
        *df.columns,
        F.col("suffix").alias("public_suffix"),
        F.when(F.col("suffix").isNull()
               | (h == F.col("suffix")), F.lit(None))
        .otherwise(F.concat(label, F.lit("."), F.col("suffix")))
        .alias("registrable")))


def utf8_audit(data: bytes) -> dict:
    """Hand-rolled UTF-8 validity audit (RFC 3629) — the ingestion
    hygiene pass a crawl runs before trusting .decode(): counts
    valid sequences by length and classifies every violation the
    spec names — overlong encodings (the classic smuggling vector),
    surrogate code points, values above U+10FFFF, stray/invalid
    continuation bytes, and truncation at end of input. Pure
    byte-level walk, stdlib only."""
    c = {k: 0 for k in ("ascii", "two", "three", "four", "overlong",
                        "surrogate", "too_large", "bad_lead",
                        "bad_continuation", "truncated")}
    i, n = 0, len(data)
    while i < n:
        b = data[i]
        if b < 0x80:
            c["ascii"] += 1
            i += 1
            continue
        if 0x80 <= b <= 0xBF or b >= 0xF8:
            c["bad_lead"] += 1
            i += 1
            continue
        need = 1 if b < 0xE0 else 2 if b < 0xF0 else 3
        tail = data[i + 1:i + 1 + need]
        if len(tail) < need:
            c["truncated"] += 1
            break
        if any(not (0x80 <= t <= 0xBF) for t in tail):
            c["bad_continuation"] += 1
            i += 1
            continue
        if need == 1:
            cp = ((b & 0x1F) << 6) | (tail[0] & 0x3F)
            kind, floor_ = "two", 0x80
        elif need == 2:
            cp = ((b & 0x0F) << 12) | ((tail[0] & 0x3F) << 6) \
                | (tail[1] & 0x3F)
            kind, floor_ = "three", 0x800
        else:
            cp = ((b & 0x07) << 18) | ((tail[0] & 0x3F) << 12) \
                | ((tail[1] & 0x3F) << 6) | (tail[2] & 0x3F)
            kind, floor_ = "four", 0x10000
        if cp < floor_:
            c["overlong"] += 1
        elif 0xD800 <= cp <= 0xDFFF:
            c["surrogate"] += 1
        elif cp > 0x10FFFF:
            c["too_large"] += 1
        else:
            c[kind] += 1
        i += 1 + need
    return c


def mixing_weights(df: DataFrame, group_col: str = "source",
                   text_col: str = "text") -> DataFrame:
    """Temperature-scaled domain mixing weights — the sampling-rate
    computation every multi-source training-data pipeline runs before
    interleaving corpora (the alpha-smoothed sampling of multilingual
    pretraining, Lample & Conneau 2019 §3.1 / XLM-R, with the common
    alpha = 0.5): w_i ∝ p_i^0.5 where p_i is source i's share of the
    corpus token count. Upsamples the tail sources relative to raw
    proportion without letting any head source dominate.

    Exact-integer contract: alpha = 1/2 is computed as
    floor(sqrt(n_tokens)) per source — IEEE sqrt is correctly rounded
    and n < 2^52, so the floor is exact and engine-independent — and
    both the raw share and the smoothed weight are emitted as ppm via
    BIGINT floor division. No float ever crosses the comparison
    boundary.

    Scale shape: one groupBy over the corpus (map-side partial sums of
    a native length expression), then a 1-row total aggregate
    broadcast back onto the |sources|-row frame — the corpus is read
    once and never shuffled on anything wider than the group key."""
    cnt = (df.groupBy(group_col)
           .agg(F.sum(token_count(F.col(text_col)))
                .cast("long").alias("n_tokens")))
    sq = cnt.withColumn(
        "sq", F.floor(F.sqrt(F.col("n_tokens"))).cast("long"))
    tot = sq.agg(F.sum("n_tokens").alias("n_tot"),
                 F.sum("sq").alias("s_tot"))
    return (sq.crossJoin(F.broadcast(tot))
            .select(group_col, "n_tokens",
                    F.expr("n_tokens * 1000000 div n_tot")
                    .alias("p_ppm"),
                    F.expr("sq * 1000000 div s_tot").alias("w_ppm")))


def html_to_text(html: str) -> tuple[str, int, int]:
    """REAL HTML visible-text extraction (stdlib html.parser — the
    boilerplate-strip every web-corpus pipeline runs between the WARC
    walk and text filtering; the signal set of Kohlschutter et al.
    2010 boilerplate detection): returns (extracted_text, n_links,
    link_tokens) where extracted_text is the whitespace-normalized
    character data OUTSIDE <script>/<style>/<title> elements, n_links
    counts <a> opens, and link_tokens counts whitespace tokens inside
    <a> — the numerator of link density, boilerplate scoring's
    strongest single feature. Entities/charrefs fold into data via
    the parser's convert_charrefs; attributes, comments, doctypes and
    self-closing tags are walked, not regexed."""
    from html.parser import HTMLParser

    class _X(HTMLParser):
        def __init__(self):
            super().__init__(convert_charrefs=True)
            self.chunks: list[str] = []
            self.skip = 0
            self.in_a = 0
            self.n_links = 0
            self.link_tokens = 0

        def handle_starttag(self, tag, attrs):
            if tag in ("script", "style", "title"):
                self.skip += 1
            elif tag == "a":
                self.n_links += 1
                self.in_a += 1

        def handle_endtag(self, tag):
            if tag in ("script", "style", "title"):
                self.skip = max(0, self.skip - 1)
            elif tag == "a":
                self.in_a = max(0, self.in_a - 1)

        def handle_data(self, data):
            if self.skip:
                return
            toks = data.split()
            if self.in_a:
                self.link_tokens += len(toks)
            self.chunks.extend(toks)

    p = _X()
    p.feed(html)
    p.close()
    return " ".join(p.chunks), p.n_links, p.link_tokens


def synth_html(doc_id: int, text: str) -> str:
    """Deterministic HTML page around a document's text: 10-token
    <p> paragraphs; a <title> and, after every 3rd paragraph, a
    <script> and <style> block (all three INVISIBLE to extraction);
    every paragraph with index % 4 == 1 except the last wraps its
    first two tokens in an <a> — so extracted tokens == the original
    token count and link counts have closed forms."""
    toks = text.split(" ")
    paras = [toks[i:i + 10] for i in range(0, len(toks), 10)]
    np_ = len(paras)
    out = [f"<html><head><title>doc {doc_id}</title>"
           f"<style>.c{doc_id} {{color: red}}</style></head><body>"]
    for pid, p in enumerate(paras):
        if pid % 4 == 1 and pid < np_ - 1:
            body = (f'<a href="/l{pid}">{p[0]} {p[1]}</a> '
                    + " ".join(p[2:]))
        else:
            body = " ".join(p)
        out.append(f"<p>{body}</p>")
        if pid % 3 == 2:
            out.append(f"<script>var x{pid} = {doc_id};</script>")
    out.append("</body></html>")
    return "".join(out)


def html_extract_stats(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Build the synthetic page per document and run the REAL
    extractor over it: per doc — extracted token count, link count,
    link tokens. Zero-shuffle Arrow-batched pandas UDF (the
    multimodal codec shape: CPU-linear in page bytes,
    embarrassingly parallel)."""
    import pandas as pd
    from pyspark.sql import types as T

    @F.pandas_udf(T.StructType([
        T.StructField("n_ext_tokens", T.LongType()),
        T.StructField("n_links", T.LongType()),
        T.StructField("link_tokens", T.LongType()),
    ]))
    def _stats(ids, texts):  # 2-arg struct UDF: hints unsupported
        rows = []
        for i, t in zip(ids, texts):
            ext, nl, lt = html_to_text(synth_html(int(i), t))
            rows.append((len(ext.split()) if ext else 0, nl, lt))
        return pd.DataFrame(rows, columns=["n_ext_tokens", "n_links",
                                           "link_tokens"])

    return df.withColumn("s", _stats(F.col(id_col), F.col(text_col)))


def synth_html_outlinks(doc_id: int, text: str) -> str:
    """Deterministic HTML page with ABSOLUTE outlinks: same paragraph
    layout as ``synth_html`` (10-token <p> blocks, link at every
    pid % 4 == 1 except the last paragraph) but each anchor's href is
    the absolute URL ``https://h{(doc_id*7+pid) % 13}.example/p{pid}``
    — so the outlink target host has the closed form
    ``h((doc_id*7 + pid) % 13)`` an oracle can replay, while the
    extraction itself still has to walk real attribute syntax
    (quoting alternates between double and single quotes by LINK
    index parity — (pid // 4) % 2, since link pids are always odd a
    paragraph-parity key would never flip — and every third link
    carries a decoy ``data-href`` attribute the parser must NOT pick
    up)."""
    toks = text.split(" ")
    paras = [toks[i:i + 10] for i in range(0, len(toks), 10)]
    np_ = len(paras)
    out = [f"<html><head><title>doc {doc_id}</title></head><body>"]
    for pid, p in enumerate(paras):
        if pid % 4 == 1 and pid < np_ - 1:
            url = f"https://h{(doc_id * 7 + pid) % 13}.example/p{pid}"
            quote = '"' if (pid // 4) % 2 == 0 else "'"
            decoy = (f" data-href={quote}https://decoy.example/x{quote}"
                     if pid % 3 == 1 else "")
            body = (f"<a{decoy} href={quote}{url}{quote}>"
                    f"{p[0]} {p[1]}</a> " + " ".join(p[2:]))
        else:
            body = " ".join(p)
        out.append(f"<p>{body}</p>")
    out.append("</body></html>")
    return "".join(out)


def extract_outlink_hosts(html: str) -> list[str]:
    """REAL outlink-host extraction (stdlib html.parser +
    urllib.parse.urlsplit — the crawl-graph construction pass between
    HTML fetch and host-level dedup/mixing decisions): walks <a> start
    tags, reads the ``href`` attribute (attribute parsing, not
    regexing — single/double quoting and unrelated attributes must
    not confuse it), keeps http(s) absolute URLs only, and returns
    the hostname's first dotted label per link (the host key a web
    graph aggregates on). Relative hrefs and non-http schemes are
    dropped — the caller only sees resolvable cross-host edges.
    Real-crawl hardening (ADVICE r6): the FIRST ``href`` wins on
    duplicate attributes (HTML spec; ``dict(attrs)`` would keep the
    last), and ``parts.hostname`` — not ``netloc`` — strips
    userinfo/port and lowercases, so ``user@H.example:8080`` keys as
    ``h``, never ``user@H``."""
    from html.parser import HTMLParser
    from urllib.parse import urlsplit

    hosts: list[str] = []

    class _X(HTMLParser):
        def handle_starttag(self, tag, attrs):
            if tag != "a":
                return
            href = next((v for k, v in attrs if k == "href"), None)
            if not href:
                return
            parts = urlsplit(href)
            if parts.scheme in ("http", "https") and parts.hostname:
                hosts.append(parts.hostname.split(".")[0])

    p = _X()
    p.feed(html)
    p.close()
    return hosts


def outlink_host_edges(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Build the synthetic outlink page per document and run the REAL
    href extractor over it: returns the input plus ``src_host`` (the
    page's own host, ``h{pmod(doc_id, 13)}``) and an exploded ``dst_host``
    row per extracted outlink — the edge-list feed of a host-level
    web graph. The extraction is a zero-shuffle Arrow-batched pandas
    UDF; the only shuffle in a typical caller is the final
    (src_host, dst_host) aggregation, exactly the shape a 100 TB
    crawl-graph build wants (CPU-linear parse, one edge-keyed
    groupBy)."""
    import pandas as pd
    from pyspark.sql import types as T

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _hosts(ids, texts):  # no hints: stringified by the module's
        # `from __future__ import annotations` -> UNSUPPORTED_SIGNATURE
        return pd.Series([
            extract_outlink_hosts(synth_html_outlinks(int(i), t))
            for i, t in zip(ids, texts)])

    # pmod, not %: Spark's % follows the dividend's sign, so a negative
    # doc_id would emit src keys like "h-3" that no dst_host (Python
    # non-negative %) could ever match (ADVICE r6)
    return (df.withColumn("src_host",
                          F.concat(F.lit("h"),
                                   F.pmod(F.col(id_col), F.lit(13))
                                   .cast("string")))
            .withColumn("dst_host",
                        F.explode(_hosts(F.col(id_col),
                                         F.col(text_col)))))
