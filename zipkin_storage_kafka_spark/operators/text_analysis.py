"""Text-analysis operators for large-scale training-data pipelines.

These extend the reference's surface (BASELINE.json north star): language-ID
heuristic, quality scoring, token counting, and document fingerprinting over
the ``documents`` table.  All pure Column expressions — whole-stage codegen,
no Python in the hot path; at 100 TB each is a single parquet scan with
pushdown, no shuffle except the final tiny aggregations.

Determinism: outputs are ints/strings or explicitly rounded doubles so the
DuckDB oracle hash-matches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from zipkin_storage_kafka_spark.functions.portable import round4

# tiny function-word lists for the language heuristic (public knowledge —
# standard high-frequency function words per language)
EN_STOPWORDS = ("the", "a", "of", "and", "to")


def with_tokens(docs: DataFrame) -> DataFrame:
    """documents + ``words`` column (whitespace tokenization)."""
    return docs.withColumn("words", F.split(F.col("text"), " "))


def stopword_hits(words_col) -> "F.Column":
    """Occurrences of EN_STOPWORDS in a words array — THE stopword
    membership expression.  token_stats, the Gopher gate, and the
    function-word language heuristic all gate on this one definition so
    their reported signals can never disagree for the same document."""
    stop_arr = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    return F.size(F.filter(words_col, lambda w: F.array_contains(stop_arr, w)))


def avg_token_len(text_col, n_tokens) -> "F.Column":
    """Mean token length via the separator identity: total token chars =
    len(text) - (n-1) single-space separators — no second explode.  One
    definition shared by token_stats and the Gopher gate."""
    return (F.length(text_col) - (n_tokens - F.lit(1))) / n_tokens


def spread(docs: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's default parallelism when
    the input arrives under-partitioned.  The testdata documents parquet
    is a single small file (one scan partition), which makes every
    char-level explode/transform run on ONE core; the cheap exchange up
    front parallelizes the expensive rowwise work.  At 100 TB inputs are
    already wide and this no-ops (partitions >= parallelism)."""
    target = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() >= target:
        return docs
    return docs.repartition(target)


def token_stats(docs: DataFrame) -> DataFrame:
    """Per-document token counts + quality signals.

    Columns: doc_id, n_tokens, n_distinct_tokens, stopword_count,
    ttr (type-token ratio, round 4), avg_token_len (round 4).
    """
    d = with_tokens(docs)
    n_tokens = F.size("words")
    n_distinct = F.size(F.array_distinct("words"))
    stopword_count = stopword_hits("words")
    avg_len = avg_token_len("text", n_tokens)
    return d.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        n_distinct.cast("long").alias("n_distinct_tokens"),
        stopword_count.cast("long").alias("stopword_count"),
        round4(n_distinct / n_tokens).alias("ttr"),
        round4(avg_len).alias("avg_token_len"),
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Composite quality score in [0,1] from length / stopword-ratio /
    repetition signals (the usual pretraining-corpus filters).

    score = 0.4*length_ok + 0.3*min(1, 5*stopword_ratio) + 0.3*ttr
    Columns: doc_id, quality (round 4), length_ok, stopword_ratio (round 4).
    """
    s = token_stats(docs)
    length_ok = (F.col("n_tokens") >= 20).cast("int")
    stop_ratio = F.col("stopword_count") / F.col("n_tokens")
    score = (
        F.lit(0.4) * length_ok
        + F.lit(0.3) * F.least(F.lit(1.0), F.lit(5.0) * stop_ratio)
        + F.lit(0.3) * F.col("ttr")
    )
    return s.select(
        "doc_id",
        round4(score).alias("quality"),
        length_ok.alias("length_ok"),
        round4(stop_ratio).alias("stopword_ratio"),
    )


def language_id(docs: DataFrame) -> DataFrame:
    """Function-word language heuristic: claim 'en' when English function
    words appear, else 'unknown'.  Columns: doc_id, predicted_lang,
    lang (ground truth), is_correct.

    (The n-gram-profile upgrade — score per language against corpus-derived
    char-trigram profiles — is a planned round-2 operator.)
    """
    d = with_tokens(docs)
    en_hits = stopword_hits("words")
    predicted = F.when(en_hits > 0, F.lit("en")).otherwise(F.lit("unknown"))
    return d.select(
        "doc_id",
        predicted.alias("predicted_lang"),
        "lang",
        (predicted == F.col("lang")).alias("is_correct"),
    )


def char_trigrams(docs: DataFrame) -> DataFrame:
    """Distinct character trigrams per document: (doc_id, lang, tg)."""
    grams = F.expr("transform(sequence(1, length(text) - 2), i -> substr(text, i, 3))")
    return (
        spread(docs.filter(F.length("text") >= 3))
        .select("doc_id", "lang", F.explode(F.array_distinct(grams)).alias("tg"))
    )


def language_profiles(
    docs: DataFrame, top_k: int = 30, tg: DataFrame | None = None
) -> DataFrame:
    """Corpus-derived language profiles: the ``top_k`` most frequent char
    trigrams per language (the classic n-gram language-ID training step,
    Cavnar-Trenkle style).  Rank ties break lexicographically so the
    profile is deterministic.  Output: (lang, tg)."""
    from pyspark.sql import Window

    counts = (
        (tg if tg is not None else char_trigrams(docs))
        .groupBy("lang", "tg")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), F.col("tg"))
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= top_k)
        .select("lang", "tg")
    )


def language_id_ngram(
    docs: DataFrame, top_k: int = 30, tg: DataFrame | None = None
) -> DataFrame:
    """n-gram language-ID: score each document against every language
    profile by distinct-trigram overlap, predict the argmax (ties -> lang
    ascending; no overlap at all -> 'unknown').

    Columns: doc_id, predicted_lang, lang, is_correct.

    Scale: profiles are tiny (langs x top_k rows) -> broadcast; the doc
    side is one explode + two partial aggregations.
    """
    from pyspark.sql import Window

    if tg is None:
        tg = char_trigrams(docs)
    profiles = language_profiles(docs, top_k, tg=tg).withColumnRenamed(
        "lang", "p_lang"
    )
    # char_trigrams rows are already per-document DISTINCT (array_distinct
    # before the explode), so overlap is a plain count after the broadcast
    # join — re-running distinct here would shuffle the full trigram
    # expansion (~chars x docs rows) a second time for nothing.
    doc_tg = tg.select("doc_id", "tg")
    scores = (
        doc_tg.join(F.broadcast(profiles), "tg")
        .groupBy("doc_id", "p_lang")
        .agg(F.count(F.lit(1)).alias("overlap"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("overlap").desc(), F.col("p_lang")
    )
    best = (
        scores.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", F.col("p_lang").alias("predicted_lang"))
    )
    out = docs.select("doc_id", "lang").join(best, "doc_id", "left")
    predicted = F.coalesce(F.col("predicted_lang"), F.lit("unknown"))
    return out.select(
        "doc_id",
        predicted.alias("predicted_lang"),
        "lang",
        (predicted == F.col("lang")).alias("is_correct"),
    )


def token_frequencies(docs: DataFrame, k: int = 20) -> DataFrame:
    """Corpus token-frequency table, top-k (vocabulary head — the first
    thing every corpus analysis computes).  Columns: word, cnt."""
    return (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("word"))
        .limit(k)
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """Order-insensitive document fingerprint: md5 of the sorted distinct
    token list — a canonical-form hash for near-exact dedup (token-order
    permutations collapse).  Columns: doc_id, fingerprint."""
    d = with_tokens(docs)
    canon = F.array_join(F.array_sort(F.array_distinct("words")), " ")
    return d.select("doc_id", F.md5(canon).alias("fingerprint"))


# BPE-ish tokenizer regex: letter runs | digit runs | single non-space
# symbol — the three base character classes a byte-pair tokenizer starts
# from.  Deliberately engine-portable (same semantics under Java regex and
# RE2, no lookarounds / unicode classes).
BPE_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def regex_token_stats(docs: DataFrame) -> DataFrame:
    """Token counting with the BPE-ish regex (vs. the whitespace tokenizer
    in :func:`token_stats`): per-doc counts by token class.  One scan, all
    counts from a single ``regexp_extract_all`` array — no explode, no
    shuffle.  Columns: doc_id, n_tokens, n_distinct, n_alpha, n_num,
    n_punct."""
    toks = F.regexp_extract_all("text", F.lit(BPE_TOKEN_RE), 0)
    d = docs.select("doc_id", toks.alias("t"))
    is_alpha = lambda x: x.rlike("^[A-Za-z]+$")  # noqa: E731
    is_num = lambda x: x.rlike("^[0-9]+$")  # noqa: E731
    return d.select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("t")).cast("long").alias("n_distinct"),
        F.size(F.filter("t", is_alpha)).cast("long").alias("n_alpha"),
        F.size(F.filter("t", is_num)).cast("long").alias("n_num"),
        (
            F.size("t")
            - F.size(F.filter("t", is_alpha))
            - F.size(F.filter("t", is_num))
        ).cast("long").alias("n_punct"),
    )


def rolling_fingerprint(docs: DataFrame, gram: int = 8) -> DataFrame:
    """Rolling-hash document fingerprint: hash every ``gram``-char window of
    the text and keep the minimum (the winnowing-min of the rolling-hash
    family — robust to edits outside the minimizing window, standard for
    near-dup detection at corpus scale).

    All-native: sequence -> transform(substr+md5) -> array_min; one scan, no
    explode — at 100 TB the per-row array is bounded by doc length and never
    shuffles (output is one 32-hex value per doc).
    Columns: doc_id, min_hash, n_windows."""
    n_windows = F.greatest(F.lit(1), F.length("text") - F.lit(gram - 1))
    hashes = F.transform(
        F.sequence(F.lit(1), n_windows),
        lambda i: F.md5(F.col("text").substr(i, F.lit(gram))),
    )
    return spread(docs).select(
        "doc_id",
        F.array_min(hashes).alias("min_hash"),
        n_windows.cast("long").alias("n_windows"),
    )


def chunk_documents(
    docs: DataFrame, chunk_tokens: int = 50, overlap: int = 10
) -> DataFrame:
    """Split documents into overlapping fixed-size token windows — the
    context-window packing step before tokenizer/training shards.

    Chunks start every ``chunk_tokens - overlap`` tokens; the last chunk
    may be short.  Pure per-row array expressions + one explode: no
    shuffle, no Python — at 100 TB this runs at scan speed and the explode
    fan-out (~n_tokens/stride rows per doc) is the unavoidable output size.

    Output: doc_id, chunk_idx (0-based), chunk_start (1-based token pos),
    n_chunk_tokens, chunk_hash (md5 of the space-joined window).
    """
    stride = chunk_tokens - overlap
    if stride <= 0:
        raise ValueError("chunk_tokens must exceed overlap")
    d = docs.select(
        "doc_id", F.split("text", " ").alias("w")
    ).withColumn("n", F.size("w"))
    starts = F.sequence(F.lit(1), F.col("n"), F.lit(stride))
    exploded = d.select(
        "doc_id", "w", "n", F.posexplode(starts).alias("chunk_idx", "start")
    )
    chunk = F.slice("w", F.col("start"), F.lit(chunk_tokens))
    return exploded.select(
        "doc_id",
        "chunk_idx",
        F.col("start").alias("chunk_start"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_hash"),
    )


def split_assignment() -> F.Column:
    """train/val/test label from the first hex nibble of md5(doc_id):
    12/16 train, 2/16 val, 2/16 test — the shared split rule for
    :func:`train_split`, decontamination, and shard materialization."""
    nib = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    return (
        F.when(nib.isin(*list("0123456789ab")), F.lit("train"))
        .when(nib.isin("c", "d"), F.lit("val"))
        .otherwise(F.lit("test"))
    )


def train_split(
    docs: DataFrame,
) -> DataFrame:
    """Deterministic train/val/test assignment by content-independent doc
    hash (first hex nibble of md5(doc_id)): 12/16 train, 2/16 val, 2/16
    test.  Hash-based splits are reproducible across runs/engines and
    stable under re-partitioning — the property a training pipeline needs
    so shards never leak between splits.  Zero shuffle until the KB-scale
    rollup.

    Output: source, lang, split, n_docs, total_chars.
    """
    split = split_assignment()
    return (
        docs.withColumn("split", split)
        .groupBy("source", "lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_chars").cast("long")).alias("total_chars"),
        )
    )


def ranked_collapse(topk: DataFrame) -> DataFrame:
    """(token, rk, cnt): rank <= K surviving (token, cnt) rows by
    (cnt desc, token asc) via ONE sorted-array collapse — collect the
    rows into a single sorted array (struct(-cnt, token) ascending ==
    the desired order) and posexplode back out with position+1 as the
    rank.

    This exists because the alternatives both failed: a partition-less
    row_number window is the single-partition WindowExec the engine
    bans, and the r4 triangular self-join planned its upstream (the
    corpus-wide token-count shuffle) TWICE (the r5 bench regression).
    The collapse references its input exactly once, so every consumer
    (encode_token_ids' vocab, zipf_fit's rank axis) inherits the
    single-scan guarantee from one definition."""
    return (
        topk.agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (-F.col("cnt")).alias("_nc"),
                        F.col("token").alias("token"),
                        F.col("cnt").alias("cnt"),
                    )
                )
            ).alias("arr")
        )
        .select(F.posexplode("arr").alias("pos", "s"))
        .select(
            F.col("s.token").alias("token"),
            (F.col("pos") + 1).alias("rk"),
            F.col("s.cnt").alias("cnt"),
        )
    )


def encode_token_ids(docs: DataFrame, vocab_size: int = 100) -> DataFrame:
    """Vocabulary build + token-id encoding: rank the corpus's top-K tokens
    by frequency (count desc, token asc — deterministic), then encode each
    document as the id sequence (OOV -> 0; ids are 1-based ranks).

    The vocabulary is corpus-global state (KBs) — built with one
    token-count shuffle and broadcast back to the encode join, the same
    build-once/broadcast-apply shape as the IVF index.  Encoding preserves
    token order via posexplode + per-doc ordered re-aggregation.

    Output: doc_id, n_tokens, n_oov, ids_hash (md5 of the comma-joined id
    sequence).
    """
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token")
    )
    freq = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # top-K first via TakeOrderedAndProject (distributed heap), THEN rank
    # the K survivors with the shared single-scan array collapse (see
    # ranked_collapse for why neither a global window nor the r4
    # triangular self-join is acceptable).
    topk = freq.orderBy(F.col("cnt").desc(), "token").limit(vocab_size)
    vocab = ranked_collapse(topk).select(
        "token", F.col("rk").cast("int").alias("id")
    )
    encoded = toks.join(F.broadcast(vocab), "token", "left").select(
        "doc_id", "pos", F.coalesce("id", F.lit(0)).alias("id")
    )
    return (
        encoded.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum((F.col("id") == 0).cast("long")).alias("n_oov"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("pos", "id"))
                        ),
                        lambda s: s["id"].cast("string"),
                    ),
                    ",",
                )
            ).alias("ids_hash"),
        )
    )


def pack_sequences(docs: DataFrame, seq_len: int = 128) -> DataFrame:
    """Concat-then-chunk sequence packing: lay every document's tokens out
    on one contiguous per-language tape (deterministic doc_id order) and
    cut the tape into fixed ``seq_len`` training sequences — the classic
    LM pretraining packing scheme.  Each doc reports the tape span it
    occupies: its start offset and the first/last sequence index it
    touches (a doc straddling a cut belongs to two sequences).

    Shape: one projection + a per-lang running sum — no explode, no join;
    the output is one row per doc.  The per-lang window implies one sort
    per language; at 100 TB the same offsets come from a two-phase prefix
    sum (per-partition token subtotals -> broadcast cumulative base per
    partition), or packing is done per shard where cross-shard sequence
    continuity isn't required.

    Output: lang, doc_id, n_tokens, start_offset, first_seq, last_seq.
    """
    d = docs.select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = d.withColumn("_end", F.sum("n_tokens").over(w))
    return d.select(
        "lang",
        "doc_id",
        "n_tokens",
        (F.col("_end") - F.col("n_tokens")).alias("start_offset"),
        F.expr(f"(_end - n_tokens) div {seq_len}").alias("first_seq"),
        F.expr(f"(_end - 1) div {seq_len}").alias("last_seq"),
    )


def repetition_stats(docs: DataFrame, gram: int = 3) -> DataFrame:
    """Gopher-style repetition quality signals, fully rowwise:

    - dup_word_ratio: 1 - distinct/total words (bulk repetition)
    - top_word_ratio: most frequent word's share, computed as the longest
      equal-run over the SORTED word array via one linear ``aggregate``
      fold — no explode, no per-word groupBy shuffle, O(n log n) per row
      inside codegen
    - dup_gram_ratio: 1 - distinct/total word n-grams (copy-paste loops
      that unigram stats miss)

    At 100 TB these are scan-speed per-row filters — the shape quality
    gates must have, since they run over the FULL corpus before any
    dedup/join narrows it.

    Output: doc_id, n_tokens, dup_word_ratio, top_word_ratio,
    dup_gram_ratio.
    """
    d = spread(docs).select("doc_id", F.split("text", " ").alias("w"))
    n = F.size("w").cast("long")
    nd = F.size(F.array_distinct("w")).cast("long")
    sorted_w = F.array_sort("w")
    zero = F.lit(0).cast("long")
    run_state = F.struct(
        F.lit("").alias("prev"), zero.alias("run"), zero.alias("best")
    )

    def _step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(
            F.lit(1).cast("long")
        )
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    top_cnt = F.aggregate(sorted_w, run_state, _step, lambda acc: acc["best"])
    grams = F.transform(
        F.sequence(F.lit(1), F.size("w") - F.lit(gram - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at("w", i + F.lit(j)) for j in range(gram)]
        ),
    )
    total_g = (n - F.lit(gram - 1)).cast("long")
    distinct_g = F.size(F.array_distinct(grams)).cast("long")
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        round4(F.lit(1.0) - nd / n).alias("dup_word_ratio"),
        round4(top_cnt / n).alias("top_word_ratio"),
        F.when(n >= gram, round4(F.lit(1.0) - distinct_g / total_g))
        .otherwise(F.lit(0.0))
        .alias("dup_gram_ratio"),
    )


def stratified_sample(docs: DataFrame, percent: int = 20) -> DataFrame:
    """Deterministic per-language stratified sample: within each lang,
    rank docs by md5(doc_id) (content-independent, engine-portable) and
    keep the first ceil(percent% of the stratum).  The mixture-weighting
    primitive for training-set assembly — reproducible across runs and
    engines, unlike ``df.sample``.

    Quota math stays in integers (ceil(n*p/100) = (n*p + 99) div 100) so
    both engines agree exactly.  The per-lang window sorts each stratum;
    at 100 TB the same selection is a filter ``md5(doc_id) < threshold``
    with the per-stratum threshold taken from an approx-quantile pass —
    no global sort.

    Output: lang, doc_id, sample_rank, quota.
    """
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    ranked = docs.select("lang", "doc_id").withColumn(
        "sample_rank", F.row_number().over(w).cast("long")
    ).withColumn(
        "quota",
        F.expr(
            f"(count(*) OVER (PARTITION BY lang) * {percent} + 99) div 100"
        ).cast("long"),
    )
    return ranked.filter(F.col("sample_rank") <= F.col("quota"))


def decontaminate(docs: DataFrame, sh: DataFrame) -> DataFrame:
    """Train/eval contamination check: val/test documents sharing at least
    one word n-gram shingle with ANY train document, with the count of
    shared distinct shingles.  The eval-set hygiene step every pretraining
    pipeline runs before reporting benchmark numbers.

    Shape: split labels are a rowwise projection; the only shuffle is the
    shingle equi-join of eval-doc shingles against the distinct train
    shingle set (semi-join-bounded — no pair enumeration).  At 100 TB the
    train shingle set exceeds broadcast size, so the join shuffles on the
    shingle hash; a bloom filter on train shingles prunes most eval probes
    first.

    Output: doc_id, split ('val'/'test'), n_shared_grams.
    """
    assign = docs.select("doc_id", split_assignment().alias("split"))
    labeled = sh.join(assign, "doc_id")
    train_sh = (
        labeled.filter(F.col("split") == "train").select("sh").distinct()
    )
    ev = labeled.filter(F.col("split") != "train")
    return (
        ev.join(train_sh, "sh", "left_semi")
        .groupBy("doc_id", "split")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


def boilerplate_stats(sh: DataFrame, docs: DataFrame, pct: int = 5) -> DataFrame:
    """Frequent-shingle boilerplate audit (C4/RefinedWeb-style cleaning
    signal): a shingle is boilerplate when it appears in >= ``pct`` percent
    of all documents; each doc reports how much of it is boilerplate.

    The corpus here is single-line synthetic text, so the unit of
    repetition is the word n-gram shingle rather than the newline-split
    line the web-corpus cleaners use — same pipeline role, same plan.

    Shape (r14): doc-frequency groupBy on the shingle key, FILTER to the
    frequent set first, and broadcast only that set back to the shingle
    rows (left join + null flag).  The pre-r14 formulation joined the
    ENTIRE distinct-gram count relation back on the gram text — a
    corpus-sized build side whose broadcast (or shuffle) grows linearly
    with the corpus (guide §3.1/§2.3: broadcast the side that fits,
    shuffle fewer bytes).  The frequent set is size-bounded by
    construction: a shingle in >= ``pct``% of docs implies at most
    (100/pct) * avg_shingles_per_doc distinct members regardless of
    corpus size, so the broadcast stays KB-scale at 100 TB.  The
    corpus-size threshold is a broadcast 1-row cross join; the
    comparison is exact integer math (d * 100 >= pct * n_docs), no
    float threshold.  The per-doc agg partial-aggregates map-side.

    Output: doc_id, n_shingles, n_boilerplate, bp_ratio (round 4).
    """
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    bp = (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("d"))
        .crossJoin(F.broadcast(n))
        .filter(F.col("d") * 100 >= F.lit(pct) * F.col("n_docs"))
        .select("sh", F.lit(1).alias("_bp"))
    )
    return (
        sh.join(F.broadcast(bp), "sh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("_bp"), F.lit(0)).cast("long")).alias(
                "n_boilerplate"
            ),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_boilerplate",
            round4(F.col("n_boilerplate") / F.col("n_shingles")).alias(
                "bp_ratio"
            ),
        )
    )


def tfidf_topk(docs: DataFrame, k: int = 3) -> DataFrame:
    """Top-``k`` TF-IDF terms per document — the classic relevance /
    keyword-extraction pass (tf = in-doc occurrence count, idf =
    ln(N / doc-frequency)).

    Shape: one (doc_id, word) partial-agg shuffle for tf; doc-frequency
    re-aggregates the SAME partitioning's output by word (second shuffle
    carries one row per distinct (doc, word)); N is a broadcast scalar.
    The per-doc top-k is a window row_number ranked on the ROUNDED score
    (both engines rank identical values, so float ulp differences cannot
    flip the order) with the word as the deterministic tie-break.

    The doc-frequency is ``sum(least(tf, 1))`` — provably the row count
    (tf >= 1 always) — ON PURPOSE: with a plain count the optimizer
    prunes ``tf`` from the dfreq branch (count(tf) is even rewritten to
    a distinct), which makes the branch's (doc_id, word) exchange
    column-incompatible with the join branch's and defeats
    ReusedExchange — the corpus was scanned, tokenized and aggregated
    TWICE (r12 plan audit).  An aggregate the optimizer cannot fold
    keeps ``tf`` alive, the exchanges match, and the whole wc subtree
    is shared (plan-pinned in test_plan_quality.py).

    Output: doc_id, rnk (1..k), word, tfidf (round 4).
    """
    wc = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = wc.groupBy("word").agg(
        F.sum(F.least(F.col("tf"), F.lit(1))).alias("df")
    )
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        wc.join(dfreq, "word")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "word",
            round4(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df"))
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("word")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("doc_id", "rnk", "word", "tfidf")
    )


def bpe_pair_counts(docs: DataFrame, top_k: int = 20) -> DataFrame:
    """Adjacent-character-pair statistics over the corpus vocabulary — the
    count step of one BPE tokenizer-training round (the argmax pair is the
    round's merge).

    Dictionary formulation (same trick as SimHash's vocabulary join): pairs
    explode over DISTINCT words only, weighted by word occurrence counts —
    pair-extraction cost scales with vocabulary size, not corpus size; the
    corpus contributes one (word -> count) partial agg.  A full BPE trainer
    is this query in a fixpoint loop (merge -> recount) with per-round
    lineage truncation — the ``kmeans_fit``/``connected_components``
    pattern; each round's counts stay oracle-checkable.

    Output: pair (2 chars), n (weighted count), top ``top_k`` by
    (n desc, pair).
    """
    wc = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # The length guard is load-bearing: Spark's sequence(1, len-1) DESCENDS
    # for single-char words (len-1 = 0 < start), yielding junk positions,
    # where DuckDB's generate_series is simply empty.
    pairs = wc.filter(F.length("word") >= 2).select(
        "cnt",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda i: F.col("word").substr(i, F.lit(2)),
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("cnt").alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(top_k)
    )


def mixture_weights(docs: DataFrame, max_epochs: float = 2.0) -> DataFrame:
    """Per-language sampling weights that rebalance the corpus toward a
    uniform language mixture — the data-mixture step of pretraining-set
    assembly (a weight > 1 repeats/upsamples, capped at ``max_epochs``;
    < 1 downsamples).

    weight_l = min(max_epochs, (T / L) / tokens_l) for corpus token total T
    and L languages; effective_tokens_l = round(weight_l * tokens_l).
    One (lang) partial agg + a broadcast 1-row total — scan-bounded.

    Output: lang, n_docs, n_tokens, raw_share (round 4), weight (round 4),
    effective_tokens.
    """
    per_lang = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " ")).cast("long")).alias("n_tokens"),
    )
    totals = per_lang.agg(
        F.sum("n_tokens").alias("t_total"),
        F.count(F.lit(1)).alias("n_langs"),
    )
    weight = F.least(
        F.lit(max_epochs),
        F.col("t_total") / F.col("n_langs") / F.col("n_tokens"),
    )
    return (
        per_lang.crossJoin(F.broadcast(totals))
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            round4(F.col("n_tokens") / F.col("t_total")).alias("raw_share"),
            round4(weight).alias("weight"),
            # floor(x + 0.5), not round(): engine rounding modes differ
            # (the quantize_int8 lesson) — this is identical in both.
            F.floor(weight * F.col("n_tokens") + F.lit(0.5))
            .cast("long")
            .alias("effective_tokens"),
        )
    )


def length_buckets(
    docs: DataFrame, n_buckets: int = 10, mode: str = "exact"
) -> DataFrame:
    """Length-curriculum banding: ntile ``n_buckets`` over per-doc token
    counts (total order (n_tokens, doc_id), so band edges are
    deterministic), with per-band size stats — the audit behind
    length-bucketed batch packing / curriculum schedules.

    ``mode='exact'`` (default, the oracle flavor) is BIT-EXACT SQL ntile
    computed scale-safe by ``operators.ntile.distributed_ntile`` — range
    partition + two-level rank, no single-partition window anywhere, so
    one-row-per-doc at 100 TB stays parallel.  ``mode='approx'`` skips
    the total order entirely: percentile_approx boundaries + broadcast
    bucket assignment (approximate edges, cheapest possible pass).

    Output: bucket (1..n), n_docs, min_tokens, max_tokens, avg_tokens
    (round 4).
    """
    from zipkin_storage_kafka_spark.operators.ntile import (
        approx_buckets,
        distributed_ntile,
    )

    with_len = docs.select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    )
    if mode == "approx":
        tiled = approx_buckets(with_len, n_buckets, "n_tokens")
    else:
        tiled = distributed_ntile(
            with_len, n_buckets, ["n_tokens", "doc_id"]
        )
    return (
        tiled.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
            round4(F.avg("n_tokens")).alias("avg_tokens"),
        )
    )


def _pattern_trigrams(pattern: str) -> list[str]:
    return sorted({pattern[i : i + 3] for i in range(len(pattern) - 2)})


def trigram_search(
    docs: DataFrame, postings: DataFrame, pattern: str
) -> DataFrame:
    """Substring search accelerated by the trigram index: a doc can contain
    ``pattern`` only if its trigram set covers ALL of the pattern's
    trigrams — the index probe reduces the exact `contains` verify from a
    full scan to the candidate set.

    Shape: the probe filters postings to the pattern's grams (at scale: a
    partition-pruned read of just those posting lists — the inverted index
    is the ``char_trigrams`` relation written out partitioned by gram),
    counts grams per doc (match = all |P| present), then semi-joins the doc
    table for the exact verify.  The pattern is a query PARAMETER (like
    the ANN query vector), so its gram set is computed driver-side.

    ``postings`` is the ``char_trigrams`` output (doc_id, tg).
    Output: doc_id, pos (1-based first occurrence).
    """
    tris = _pattern_trigrams(pattern)
    cand = (
        postings.select("doc_id", F.col("tg").alias("tri"))
        .filter(F.col("tri").isin(tris))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") == len(tris))
        .select("doc_id")
    )
    return (
        docs.join(cand, "doc_id", "left_semi")
        .select("doc_id", F.instr("text", pattern).alias("pos"))
        .filter(F.col("pos") > 0)
    )


# PII scrubbing ---------------------------------------------------------------

# Patterns stay inside the Java-regex / RE2 common dialect so Spark and the
# DuckDB oracle compile the same automaton: no backrefs, no lookaround.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\b\d{3}-\d{4}\b"


def _with_injected_pii(docs: DataFrame) -> F.Column:
    """The synthetic corpus carries no PII, so the scrub testbed injects a
    deterministic doc_id-derived email / IPv4 / phone into each document —
    the operator's regex machinery then has non-trivial work whose outputs
    the oracle reproduces exactly.  On real data, point ``pii_scrub`` at the
    raw text column and drop the injection."""
    d = F.col("doc_id")
    return F.concat(
        F.col("text"),
        F.lit(" contact user"),
        d.cast("string"),
        F.lit("@example.com from "),
        F.lit("10.0."),
        (d % 256).cast("string"),
        F.lit("."),
        (d % 7).cast("string"),
        F.lit(" call 555-"),
        (F.lit(1000) + d % 1000).cast("string"),
    )


def pii_scrub(docs: DataFrame) -> DataFrame:
    """Per-document PII detection + redaction: count emails / IPv4s /
    phone-shaped tokens, then redact them (emails first — an email body can
    contain digit runs the later patterns would double-count).  All JVM
    regex inside whole-stage codegen; one parquet scan, zero shuffle at any
    scale.  Columns: doc_id, n_email, n_ip, n_phone, redacted_hash.
    """
    raw = _with_injected_pii(docs)
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(raw, F.lit(PII_EMAIL), F.lit("<EMAIL>")),
            F.lit(PII_IPV4),
            F.lit("<IP>"),
        ),
        F.lit(PII_PHONE),
        F.lit("<PHONE>"),
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(raw, F.lit(PII_EMAIL), F.lit(0)))
        .cast("long")
        .alias("n_email"),
        F.size(F.regexp_extract_all(raw, F.lit(PII_IPV4), F.lit(0)))
        .cast("long")
        .alias("n_ip"),
        F.size(F.regexp_extract_all(raw, F.lit(PII_PHONE), F.lit(0)))
        .cast("long")
        .alias("n_phone"),
        F.md5(redacted).alias("redacted_hash"),
    )


URL_PATTERN = r"https?://[A-Za-z0-9.-]+"


def url_domain_stats(docs: DataFrame) -> DataFrame:
    """Per-domain link stats over extracted URLs: inject two deterministic
    doc_id-derived URLs per document (the synthetic corpus has none), pull
    every scheme+host with one regex pass, explode, strip to the host, and
    aggregate.  The explode fans out ~2 rows/doc before a partial-agg
    shuffle on the (low-cardinality) domain — the classic
    extract-then-count shape for crawl corpora.  Columns: domain, n_urls,
    n_docs.
    """
    d = F.col("doc_id")
    injected = F.concat(
        F.col("text"),
        F.lit(" see https://site"),
        (d % 50).cast("string"),
        F.lit(".example.org/page"),
        d.cast("string"),
        F.lit(" and http://cdn"),
        (d % 7).cast("string"),
        F.lit(".example.net/x"),
    )
    urls = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(injected, F.lit(URL_PATTERN), F.lit(0))
        ).alias("url"),
    )
    host = F.regexp_replace(F.col("url"), F.lit(r"^https?://"), F.lit(""))
    return (
        urls.select("doc_id", host.alias("domain"))
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


# BM25 ------------------------------------------------------------------------

BM25_QUERY_TERMS = ("table", "spark", "join")
BM25_K1 = 1.2
BM25_B = 0.75


def bm25_topk(
    docs: DataFrame,
    terms: tuple[str, ...] = BM25_QUERY_TERMS,
    k: int = 20,
) -> DataFrame:
    """BM25 relevance of every document against a fixed term set, top-``k``
    — the retrieval scorer for corpus search / quality-by-query audits.

    Shape: the token explode is filtered to the |terms| query terms BEFORE
    the (doc_id, term) partial-agg shuffle, so shuffle volume is bounded by
    matches, not corpus tokens; doc length rides the explode and recovers
    through the groupBy as ``min`` (constant per doc), so document lengths
    NEVER join corpus-wide — r11 removed a corpus-sized dl relation
    shuffling into a doc-keyed join for a k-row result (one less text
    scan and one less corpus exchange; same-session A/B sf0.1
    1.41 -> 1.25 s, sf1 1.63 -> 1.52 s, output-identical — the tokenize
    explode dominates locally, but the removed exchange is the term that
    grows with the corpus).  Doc frequency (|terms| rows), avgdl, and N
    are broadcast scalars.  Determinism: each
    per-term score is rounded to integer MICRO-points before the per-doc
    sum — integer sums are exact under any aggregation order, so the
    engine and the oracle rank identically (a float sum's order-dependent
    ulp could flip top-k boundaries).  Output: doc_id, n_terms,
    score_micro, rank.
    """
    term_arr = F.array(*[F.lit(t) for t in terms])
    toks = (
        docs.select(
            "doc_id",
            F.size(F.split("text", " ")).cast("double").alias("_dl"),
            F.explode(F.split("text", " ")).alias("word"),
        )
        .filter(F.array_contains(term_arr, F.col("word")))
    )
    # tf is consumed twice (per-doc scoring + the doc-frequency table)
    # and is SMALL (docs containing a query term x |terms|) — checkpoint
    # it so the corpus tokenize/explode runs once, not once per consumer
    # (r11: the pre-AQE plan duplicated the whole corpus subtree, 6
    # parquet scans / 10 exchanges for a k-row result).
    tf = (
        toks.groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"), F.min("_dl").alias("dl"))
        .localCheckpoint(eager=False)
    )
    stats = docs.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg(F.size(F.split("text", " "))).alias("avgdl"),
    )
    dfreq = tf.groupBy("word").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    tf_term = (
        F.col("tf")
        * F.lit(BM25_K1 + 1.0)
        / (
            F.col("tf")
            + F.lit(BM25_K1)
            * (
                F.lit(1.0 - BM25_B)
                + F.lit(BM25_B) * F.col("dl") / F.col("avgdl")
            )
        )
    )
    per_term = (
        tf.join(F.broadcast(dfreq), "word")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(idf * tf_term * F.lit(1_000_000), 0)
            .cast("long")
            .alias("micro"),
        )
    )
    # scored is checkpointed (matched-docs grain — small): BOTH
    # triangular-join sides below re-evaluate their upstream, and
    # without truncation each side re-ran the whole scoring subtree
    # including the corpus stats scan (the pre-AQE plan showed 6
    # parquet scans / 10 exchanges for a k-row result).  Checkpointing
    # here — not at the k-row top — keeps the TakeOrderedAndProject
    # visible in the outer plan for the pin.
    scored = (
        per_term.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("micro").alias("score_micro"),
        )
        .localCheckpoint(eager=False)
    )
    # orderBy+limit plans as TakeOrderedAndProject (per-partition top-k +
    # k-row driver merge); rank the k survivors by triangular self-join
    # (rank = 1 + #rows strictly before me) — k^2 over k=20 rows, no
    # single-partition WindowExec anywhere in the plan.
    top = scored.orderBy(F.col("score_micro").desc(), F.col("doc_id")).limit(
        k
    )
    t1 = top.select(
        F.col("doc_id").alias("_d"), F.col("score_micro").alias("_s")
    )
    before_me = (F.col("_s") > F.col("score_micro")) | (
        (F.col("_s") == F.col("score_micro")) & (F.col("_d") < F.col("doc_id"))
    )
    return (
        top.join(t1, before_me, "left")
        .groupBy("doc_id", "n_terms", "score_micro")
        .agg((F.count("_d") + 1).cast("int").alias("rank"))
        .select("doc_id", "n_terms", "score_micro", "rank")
    )


def ccnet_buckets(
    docs: DataFrame, k: int = 3, scores: DataFrame | None = None
) -> DataFrame:
    """CCNet-style head/middle/tail partitioning (Wenzek et al. 2020):
    per language, rank documents by the char-LM fluency score
    (:func:`char_lm_score`) and split into ``k`` equal buckets — the
    quality stratification pretraining pipelines use to up/down-sample
    by perplexity band.  Bucket 1 (head) = most fluent.

    Columns: lang, bucket, label, n_docs, avg_logprob (round4).

    Determinism: ntile over a TOTAL order (score desc, doc_id), and the
    per-bucket average is a ratio of exact integer micro-logprob /
    bigram-count sums — no order-dependent float accumulation.

    Scale (100 TB): the ntile window partitions per language (never a
    single global partition) but does sort each language's rows; the
    100 TB flavor replaces it with threshold assignment against
    precomputed quantile cut points (two passes, no per-lang sort) —
    the cut-point derivation is exactly
    sketches.histogram_quantile_audit's counter table.
    """
    if scores is None:
        scores = char_lm_score(docs)
    j = docs.select("doc_id", "lang").join(scores, "doc_id")
    w = Window.partitionBy("lang").orderBy(
        F.col("avg_logprob").desc(), F.col("doc_id")
    )
    b = j.withColumn("bucket", F.ntile(k).over(w))
    label = (
        F.when(F.col("bucket") == 1, F.lit("head"))
        .when(F.col("bucket") == k, F.lit("tail"))
        .otherwise(F.lit("middle"))
    )
    return (
        b.groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("logprob_micro").alias("_lm"),
            F.sum("n_bigrams").alias("_nb"),
        )
        .select(
            "lang",
            F.col("bucket").cast("int").alias("bucket"),
            label.alias("label"),
            "n_docs",
            round4(
                F.col("_lm") / F.col("_nb") / F.lit(1_000_000.0)
            ).alias("avg_logprob"),
        )
    )


RRF_K = 60


def hybrid_rrf_topk(
    docs: DataFrame,
    embeddings: DataFrame,
    query_vec_id: int,
    terms: tuple[str, ...] = BM25_QUERY_TERMS,
    k: int = 20,
    lex: DataFrame | None = None,
) -> DataFrame:
    """Hybrid retrieval by reciprocal-rank fusion (Cormack et al. SIGIR
    2009): fuse the BM25 lexical top-k and the embedding-cosine top-k
    with score = Σ 1/(RRF_K + rank) over the systems that returned the
    doc — the standard modern RAG retrieval stack (lexical + dense,
    fused rank-only so the two scoring scales never need calibration).

    Columns: doc_id, lex_rank, sem_rank (NULL when absent from that
    system's list), rrf_score (round4); top-``k`` of the fused union
    by (rrf_score desc, doc_id).

    Determinism: both input ranks are exact integers (BM25 micro-point
    sums; cosine ranked on its round4 value with doc_id tiebreaks), and
    1/(RRF_K + rank) is one correctly-rounded IEEE division per system,
    added in a fixed order — bit-identical across engines before the
    final round4.

    Scale (100 TB): both arms are the already-audited top-k plans
    (TakeOrdered, no global sort); ranking the k survivors is the same
    triangular k²-over-k-rows self-join BM25 uses (no single-partition
    window); the fusion is a full outer join of two k-row relations.
    ``lex`` optionally supplies a precomputed BM25 top-k relation
    (doc_id, ..., rank — the registry feeds the matcache'd
    ``bm25_topk`` the text_bm25_topk row also serves, so the lexical
    corpus pass runs once per corpus snapshot, not per consumer).
    """
    from zipkin_storage_kafka_spark.operators.similarity import cosine_topk

    lex = (lex if lex is not None else bm25_topk(docs, terms, k)).select(
        "doc_id", F.col("rank").alias("lex_rank")
    )
    # The k-row dense arm is referenced twice (rank self-join); without
    # lineage truncation each reference re-runs the corpus TakeOrdered
    # scan (the r06 checkpoint lesson).
    sem_top = (
        cosine_topk(embeddings, query_vec_id, k)
        .select(F.col("vec_id").alias("doc_id"), "cos")
        .localCheckpoint(eager=False)
    )
    s1 = sem_top.select(
        F.col("doc_id").alias("_d"), F.col("cos").alias("_c")
    )
    before_me = (F.col("_c") > F.col("cos")) | (
        (F.col("_c") == F.col("cos")) & (F.col("_d") < F.col("doc_id"))
    )
    sem = (
        sem_top.join(s1, before_me, "left")
        .groupBy("doc_id", "cos")
        .agg((F.count("_d") + 1).cast("int").alias("sem_rank"))
        .select("doc_id", "sem_rank")
    )
    fused = lex.join(sem, "doc_id", "full")
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(RRF_K) + F.col("lex_rank")), F.lit(0.0)
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(RRF_K) + F.col("sem_rank")), F.lit(0.0)
    )
    return (
        fused.select(
            "doc_id", "lex_rank", "sem_rank", round4(rrf).alias("rrf_score")
        )
        .orderBy(F.col("rrf_score").desc(), "doc_id")
        .limit(k)
    )


# Iterative BPE training ------------------------------------------------------


def bpe_train_rounds(docs: DataFrame, rounds: int = 3) -> DataFrame:
    """``rounds`` full BPE merge rounds over the corpus vocabulary (learn
    the top pair, apply the merge, repeat) — the iterative core of
    tokenizer training, not just one count pass
    (:func:`bpe_pair_counts`).

    Dictionary formulation: state is one row per DISTINCT word with its
    corpus count; symbol sequences are space-joined with DOUBLED
    separators (`' a  b  c '`), which makes a literal ``replace`` of
    ``' s1  s2 '`` with ``' s1s2 '`` reproduce BPE's greedy non-overlapping
    left-to-right merge exactly (each match consumes one of the two
    boundary spaces, so back-to-back occurrences still match) — identical
    semantics in Spark and DuckDB, so the unrolled-CTE oracle hash-matches.

    Scale: state is the vocabulary (distinct words), orders of magnitude
    smaller than the corpus; the chosen pair is a broadcast 1-row relation;
    each round is one explode + partial-agg shuffle over vocab rows.  The
    driver never sees data (no collect) — rounds chain as pure plans with
    lineage truncated per round.

    Output: one row per round — round, merged_pair, pair_count,
    corpus_symbols_after.
    """
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    state = words.select(
        "cnt",
        F.concat(
            F.lit(" "),
            F.array_join(F.split(F.col("word"), ""), "  "),
            F.lit(" "),
        ).alias("w2"),
    ).localCheckpoint(eager=False)
    out = None
    for rnd in range(1, rounds + 1):
        syms = F.split(F.trim(F.col("w2")), "  ")
        pairs = state.select(
            "cnt",
            F.explode(
                F.zip_with(
                    F.slice(syms, 1, F.greatest(F.size(syms) - 1, F.lit(0))),
                    F.slice(
                        syms, 2, F.greatest(F.size(syms) - 1, F.lit(0))
                    ),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                )
            ).alias("pair"),
        )
        pc = pairs.groupBy("pair").agg(F.sum("cnt").alias("pair_count"))
        best = pc.orderBy(F.col("pair_count").desc(), F.col("pair")).limit(1)
        merged = state.crossJoin(F.broadcast(best)).select(
            "cnt",
            "pair",
            "pair_count",
            F.replace(
                F.col("w2"),
                F.concat(
                    F.lit(" "),
                    F.replace(F.col("pair"), F.lit(" "), F.lit("  ")),
                    F.lit(" "),
                ),
                F.concat(
                    F.lit(" "),
                    F.replace(F.col("pair"), F.lit(" "), F.lit("")),
                    F.lit(" "),
                ),
            ).alias("w2"),
        ).localCheckpoint(eager=False)
        row = merged.groupBy("pair", "pair_count").agg(
            F.sum(
                F.col("cnt") * F.size(F.split(F.trim(F.col("w2")), "  "))
            ).alias("corpus_symbols_after")
        ).select(
            F.lit(rnd).alias("round"),
            F.col("pair").alias("merged_pair"),
            "pair_count",
            "corpus_symbols_after",
        )
        out = row if out is None else out.unionAll(row)
        state = merged.select("cnt", "w2")
    return out


# Char-bigram LM scoring ------------------------------------------------------


def char_lm_score(docs: DataFrame) -> DataFrame:
    """Perplexity-proxy quality score from a corpus-trained character
    bigram LM: per document, the average log-probability of its char
    bigrams under corpus-wide bigram frequencies (the cheap KenLM stand-in
    every pretraining pipeline uses for fluency filtering — word salad and
    mojibake score low).

    Exactness: each bigram TYPE gets one integer micro-logprob
    (round(ln(count/total) * 1e6)) computed once on the tiny vocabulary
    side; per-document totals are then exact bigint sums of those integers
    — no float accumulation over documents.  The bigram LM table is a few
    KB and broadcasts; the doc side is one explode + one join + one
    partial agg, the same shape as the trigram language-ID.

    Columns: doc_id, n_bigrams, logprob_micro, avg_logprob (round 4).
    """
    grams = F.expr(
        "transform(sequence(1, length(text) - 1),"
        " i -> substr(text, i, 2))"
    )
    bg = spread(docs.filter(F.length("text") >= 2)).select(
        "doc_id", F.explode(grams).alias("bg")
    )
    # Collapse occurrences to per-(doc, bigram-type) counts FIRST: the LM
    # table derives from a second partial agg over those rows, and the
    # broadcast join then touches one row per type per doc instead of one
    # per occurrence (measured ~2x on the whole query at sf0.1).
    occ = bg.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("n"))
    counts = occ.groupBy("bg").agg(F.sum("n").alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))
    lm = counts.crossJoin(F.broadcast(total)).select(
        "bg",
        F.round(
            F.log(F.col("cnt") / F.col("total")) * F.lit(1_000_000), 0
        )
        .cast("long")
        .alias("lp_micro"),
    )
    scored = occ.join(F.broadcast(lm), "bg").groupBy("doc_id").agg(
        F.sum("n").alias("n_bigrams"),
        F.sum(F.col("n") * F.col("lp_micro")).alias("logprob_micro"),
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        "logprob_micro",
        round4(
            F.col("logprob_micro") / (F.lit(1_000_000.0) * F.col("n_bigrams"))
        ).alias("avg_logprob"),
    )


def corpus_card(docs: DataFrame) -> DataFrame:
    """One-row dataset card: the corpus-level numbers every dataset README
    reports (doc/char/token totals, language/source diversity, exact-dup
    rate, split sizes).  Each number is an exact integer aggregate; the
    three split counts come from one conditional-sum pass, so the whole
    card is two scans (one plain, one distinct-hash) with KB-sized
    results cross-joined broadcast.
    """
    base = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.size(F.split("text", " "))).alias("total_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum(
            (split_assignment() == "train").cast("long")
        ).alias("train_docs"),
        F.sum((split_assignment() == "val").cast("long")).alias("val_docs"),
        F.sum(
            (split_assignment() == "test").cast("long")
        ).alias("test_docs"),
    )
    distinct_texts = docs.select(F.md5("text").alias("h")).agg(
        F.countDistinct("h").alias("n_distinct_texts")
    )
    return base.crossJoin(F.broadcast(distinct_texts)).select(
        "n_docs",
        "total_chars",
        "total_tokens",
        "n_langs",
        "n_sources",
        "train_docs",
        "val_docs",
        "test_docs",
        "n_distinct_texts",
        (F.col("n_docs") - F.col("n_distinct_texts")).alias("n_exact_dups"),
    )


def token_budget_sample(docs: DataFrame, budget_tokens: int = 20000) -> DataFrame:
    """Deterministic corpus subset up to a token budget: order documents by
    md5(doc_id) (a stable shuffle) and keep the prefix whose cumulative
    token count fits the budget — how training mixtures cut a source to a
    target token share.

    The cumulative sum is a DISTRIBUTED TWO-LEVEL PREFIX SUM, not a global
    single-partition window: partition by the first hash nibble (16
    buckets), take per-bucket totals (16 rows — window over those is
    trivially cheap at any scale), broadcast each bucket's starting offset
    back, and add a within-bucket running sum.  Global cum = offset +
    within — exact integers, identical to the oracle's flat window.

    Columns: doc_id, n_tokens, cum_tokens.
    """
    d = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("rk"),
    ).withColumn("bkt", F.substring("rk", 1, 1))
    per_bucket = d.groupBy("bkt").agg(F.sum("n_tokens").alias("bsum"))
    # offsets = sum of strictly-earlier buckets: triangular join over the
    # 16-row bucket table (not a window — no single-partition WindowExec)
    b2 = per_bucket.select(
        F.col("bkt").alias("_b2"), F.col("bsum").alias("_s2")
    )
    offsets = (
        per_bucket.join(b2, F.col("_b2") < F.col("bkt"), "left")
        .groupBy(F.col("bkt").alias("_bkt"))
        .agg(F.coalesce(F.sum("_s2"), F.lit(0)).alias("offset"))
    )
    win = Window.partitionBy("bkt").orderBy("rk", "doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = d.join(
        F.broadcast(offsets), F.col("bkt") == F.col("_bkt")
    ).withColumn(
        "cum_tokens", F.col("offset") + F.sum("n_tokens").over(win)
    )
    return cum.filter(F.col("cum_tokens") <= budget_tokens).select(
        "doc_id", "n_tokens", "cum_tokens"
    )


QUOTA_PER_SOURCE = 10


def quota_sample(docs: DataFrame, per_source: int = QUOTA_PER_SOURCE) -> DataFrame:
    """Per-source quota sampling: keep the ``per_source`` highest-QUALITY
    documents from every source — the domain-balancing step of corpus
    assembly (cap any one crawl/domain so it cannot dominate the mixture,
    but keep its best documents rather than a random slice, cf. the
    source-balanced sampling in Gopher/MassiveText, Rae et al. 2021).

    Determinism: quality is the composite :func:`quality_score` (already
    round4-portable); ties break on doc_id, so both engines pick identical
    survivors.

    Output: source, doc_id, quality, rk (1..per_source).

    Scale (100 TB): rank-within-group with a LIMIT-style predicate —
    Spark 3.5+ rewrites it to WindowGroupLimit, so each task keeps a
    per-source top-``per_source`` heap and the full window sort never
    materializes (same plan shape as w25_slowest_per_service, pinned in
    tests/test_plan_quality.py).  Skewed sources cost one heap per task,
    not a single-partition sort.
    """
    q = quality_score(docs).select("doc_id", "quality")
    d = docs.select("source", "doc_id").join(q, "doc_id")
    w = Window.partitionBy("source").orderBy(
        F.col("quality").desc(), "doc_id"
    )
    return (
        d.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= per_source)
        .select("source", "doc_id", "quality", "rk")
    )


SHUFFLE_SEED = 42
def _shuffle_key(seed: int):
    """The seeded deterministic shuffle key — md5(doc_id ':' seed) —
    shared by global_shuffle and curriculum_order AND mirrored verbatim
    in their DuckDB oracles; change it in one place or parity breaks."""
    return F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f":{seed}")))

SHUFFLE_SHARDS = 16


def global_shuffle(
    docs: DataFrame, seed: int = SHUFFLE_SEED, n_shards: int = SHUFFLE_SHARDS
) -> DataFrame:
    """Deterministic seeded global shuffle for training-data ordering:
    every doc gets a pseudo-random sort key = md5(doc_id || ':' || seed),
    a shard = first hex nibble of that key (uniform 1/16 split), and a
    position within its shard.  Changing the seed reshuffles; re-running
    with the same seed reproduces the exact order — the property
    ``df.sample``/``rand()`` cannot give across engines or retried tasks
    (Spark recomputes lost partitions, so nondeterministic keys silently
    reorder on failure; a content-derived key cannot).

    Output: shard (0..n_shards-1), position (1..), doc_id, sort_key.

    Scale (100 TB): the key is a rowwise projection (no data movement);
    the ONLY shuffle is the repartition-by-shard that training-output
    writers need anyway, and each shard sorts locally (position is a
    window partitioned by shard — never a global sort).  Writers emit one
    file per shard; readers stream shards in any order and within-shard
    order is reproducible.  More shards = more parallelism: any power of
    16 widens the hex prefix (256 shards = 2 chars, 4096 = 3) without
    touching the key.
    """
    prefix_len = 0
    n = n_shards
    while n > 1 and n % 16 == 0:
        n //= 16
        prefix_len += 1
    if n != 1 or prefix_len == 0:
        raise ValueError(
            f"n_shards must be a power of 16 (hex-prefix sharding), "
            f"got {n_shards}"
        )
    d = docs.select("doc_id").withColumn(
        "sort_key", _shuffle_key(seed)
    ).withColumn(
        "shard",
        F.conv(F.substring("sort_key", 1, prefix_len), 16, 10).cast("int"),
    )
    w = Window.partitionBy("shard").orderBy("sort_key", "doc_id")
    return d.withColumn("position", F.row_number().over(w).cast("long")).select(
        "shard", "position", "doc_id", "sort_key"
    )


CURRICULUM_PHASES = 4


# Gopher-rule bounds (Rae et al. 2021, "Scaling Language Models: ...
# Gopher", table A1 — the word-level subset; the line/symbol rules don't
# apply to the whitespace-token corpus shape).  Word-count bounds are
# scaled to this corpus's short synthetic docs; production uses the
# paper's 50..100k.
GOPHER_MIN_WORDS = 20
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_AVG_WORD_LEN = 3.0
GOPHER_MAX_AVG_WORD_LEN = 10.0
GOPHER_MIN_STOPWORDS = 2
GOPHER_MAX_DUP_WORD_RATIO = 0.6


def gopher_rules(docs: DataFrame) -> DataFrame:
    """Gopher-style document quality gate: the word-level rule subset of
    Rae et al. 2021's pretraining filters, each reported as its own
    boolean so a pipeline can audit WHICH rule rejected a document —
    word-count bounds, mean-word-length bounds, minimum stopword count
    (gibberish guard), and bulk-repetition bound (1 - distinct/total
    words).

    All four signals are rowwise projections over one tokenization —
    zero joins, zero shuffles; at 100 TB this is a scan-speed map stage,
    which is exactly what a full-corpus pre-dedup gate must be.  Mean
    word length reuses token_stats' separator identity
    (len(text) - (n-1)) / n; ratios round4 BEFORE comparison so both
    engines gate on identical values.

    Output: doc_id, n_words, word_count_ok, word_len_ok, stopword_ok,
    repetition_ok, pass (AND of the four).
    """
    d = docs.select("doc_id", "text", F.split("text", " ").alias("w"))
    n = F.size("w").cast("long")
    avg_len = round4(avg_token_len("text", n))
    n_stop = stopword_hits("w")
    dup_ratio = round4(
        F.lit(1.0) - F.size(F.array_distinct("w")) / n
    )
    word_count_ok = (n >= GOPHER_MIN_WORDS) & (n <= GOPHER_MAX_WORDS)
    word_len_ok = (avg_len >= GOPHER_MIN_AVG_WORD_LEN) & (
        avg_len <= GOPHER_MAX_AVG_WORD_LEN
    )
    stopword_ok = n_stop >= GOPHER_MIN_STOPWORDS
    repetition_ok = dup_ratio <= GOPHER_MAX_DUP_WORD_RATIO
    return d.select(
        "doc_id",
        n.alias("n_words"),
        word_count_ok.alias("word_count_ok"),
        word_len_ok.alias("word_len_ok"),
        stopword_ok.alias("stopword_ok"),
        repetition_ok.alias("repetition_ok"),
        (word_count_ok & word_len_ok & stopword_ok & repetition_ok).alias(
            "pass"
        ),
    )


def ngram_novelty(sh: DataFrame, docs: DataFrame) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's distinct word
    3-grams whose FIRST corpus occurrence (min doc_id) is this doc — a
    memorization/contamination proxy (a doc of all-novel grams
    contributes new text; a doc of 0-novel grams is assembled entirely
    from earlier material).  ``sh`` is the shared distinct-shingle set
    (dedup.shingles_native / the registry's memoized ``_shingles``) —
    the SAME relation the MinHash pipeline consumes, so at 100 TB the
    expensive explode is computed once per corpus, not per operator.

    Plan (r14): one groupBy(gram) min(doc_id) for first-owner
    attribution, then — because ``sh`` is distinct per (doc_id, gram) —
    ``n_novel`` is just a RE-AGGREGATION of the owner relation by
    ``first_doc`` (each gram contributes exactly one first-owner row),
    and ``n_grams`` is a direct per-doc count of ``sh``.  The pre-r14
    formulation instead equi-joined the corpus-sized owner relation
    back to every shingle row on the gram TEXT — a second full
    gram-keyed shuffle (or a corpus-sized broadcast) that grows
    linearly with the corpus (guide §2.4 remove shuffles outright,
    §2.3 shuffle keys not payloads).  Both aggs partial-aggregate
    map-side, so the two shuffles now carry doc-cardinality partials,
    never gram text.  Docs with fewer than 3 words have no grams:
    reported with n_grams = 0 and novelty 0.0 via the left join
    against the doc spine (one row per doc, always).

    Output: doc_id, n_grams, n_novel, novelty (round4).
    """
    owner = sh.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    novel = owner.groupBy(
        F.col("first_doc").alias("doc_id")
    ).agg(F.count(F.lit(1)).alias("n_novel"))
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    per_doc = counts.join(novel, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
            F.when(
                F.col("n_grams").isNull(), F.lit(0.0)
            )
            .otherwise(round4(F.col("n_novel") / F.col("n_grams")))
            .alias("novelty"),
        )
    )


def curriculum_order(
    docs: DataFrame,
    phases: int = CURRICULUM_PHASES,
    seed: int = SHUFFLE_SEED,
) -> DataFrame:
    """Curriculum training order: partition the corpus into quality
    phases (phase 1 = highest-quality quartile first, the
    clean-data-first schedule of curriculum learning) and shuffle
    deterministically WITHIN each phase — a composition of the quality
    scorer, the distributed exact ntile, and the seeded-shuffle key.

    Output: phase (1..phases), position (1.. within phase), doc_id,
    quality.

    Scale (100 TB): phase assignment is the range-partition + two-level
    rank of ``operators.ntile.distributed_ntile`` (bit-exact SQL
    ntile, NO single-partition window).  The within-phase position is
    the r11 fix of a bounded-cardinality window: ``Window.partitionBy
    ("phase")`` with ``phases``=4 is FOUR sort tasks each holding a
    quarter of the corpus — the same pathology as the unpartitioned
    window, divided by four.  Position now comes from the phase-major
    global rank (``distributed_rank`` over (phase, _sk, doc_id) — range
    exchange, parallel local row_number, broadcast offsets) minus each
    phase's broadcast start offset, so every stage is as parallel as
    the range partitioning.  The shuffle key is md5-seeded —
    reproducible under task retries, same property as
    :func:`global_shuffle`.

    Measured floor (disclosed): at the bench corpus (5k-50k docs) the
    distributed rank is ~0.7 s SLOWER same-session than the
    phase-partitioned window (1.6 -> 2.3 s at both scales, flat) —
    the delta is the scheduling floor of its extra stages (range
    exchange, checkpoint, counts, offset joins), constant in corpus
    size, while the window it replaces degrades as rows/phase: four
    sort tasks each holding a quarter of a 100 TB corpus is the exact
    pathology this module exists to avoid.  Scale-correct shape wins
    over a constant local floor; same trade as
    dedup_winnow_clusters' documented scheduling floor.
    """
    from zipkin_storage_kafka_spark.operators.ntile import (
        distributed_ntile,
        distributed_rank,
    )

    q = quality_score(docs).select(
        "doc_id", "quality", (-F.col("quality")).alias("_negq")
    )
    bucketed = distributed_ntile(
        q, phases, ["_negq", "doc_id"], bucket_col="phase"
    ).drop("_negq")
    d = bucketed.withColumn("_sk", _shuffle_key(seed))
    r = distributed_rank(d, ["phase", "_sk", "doc_id"], "_gr")
    # Each phase's 0-based start offset = count of rows in earlier
    # phases: a triangular join over <= `phases` rows, broadcast back.
    pc = r.groupBy("phase").agg(F.count(F.lit(1)).alias("_c"))
    a, b = pc.alias("a"), pc.alias("b")
    poff = (
        a.join(b, F.col("b.phase") < F.col("a.phase"), "left")
        .groupBy(F.col("a.phase").alias("phase"))
        .agg(F.coalesce(F.sum("b._c"), F.lit(0)).alias("_poff"))
    )
    return (
        r.join(F.broadcast(poff), "phase")
        .select(
            "phase",
            (F.col("_gr") - F.col("_poff")).cast("long").alias("position"),
            "doc_id",
            "quality",
        )
    )


# DSIR importance weights -----------------------------------------------------

DSIR_BUCKETS = 1024
DSIR_TARGET_SOURCE = "src0"


def dsir_importance(
    docs: DataFrame,
    target_source: str = DSIR_TARGET_SOURCE,
    buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling", arXiv:2302.03169):
    score every document by how much more likely its hashed word-bigram
    features are under a TARGET domain (here: ``source == target_source``)
    than under the raw corpus — the importance-resampling signal used to
    upsample target-like data at pretraining scale.

    Hashed n-gram trick, verbatim from the paper: bigrams hash into a
    FIXED bucket space (md5 prefix mod ``buckets``), so both feature
    distributions are ``buckets``-dim count vectors no matter the corpus
    size.  Laplace (+1) smoothing keeps every log finite.

    Exactness discipline (same as char_lm_score): each bucket gets ONE
    integer micro-logweight ``round(ln(p_target/p_raw) * 1e6)`` computed
    on the tiny bucket table; per-document totals are exact bigint sums
    of those integers — no float accumulation over documents.

    Output: doc_id, n_grams, weight_micro, avg_weight (round4; 0.0 for
    gram-less docs, which keep their row via the doc spine).

    Scale (100 TB): the feature space is FIXED at ``buckets`` keys — the
    two count aggregations partial-combine down to KBs regardless of
    corpus size, the weight table broadcasts, and the per-doc pass is
    one explode + broadcast join + partial agg.  This is the entire
    point of DSIR's hashing: importance estimation cost is independent
    of vocabulary growth.
    """
    # Fail fast on an absent target domain: with zero target docs every
    # bucket weight degenerates to NULL and the output silently reads
    # weight_micro=0 / avg_weight=NULL for every doc — garbage with no
    # signal.  isEmpty() evaluates partitions INCREMENTALLY (usually
    # touching one) where limit(1).count() would launch a task on every
    # partition.
    if docs.filter(F.col("source") == target_source).isEmpty():
        raise ValueError(
            f"target_source={target_source!r} matches no documents — "
            "importance weights are undefined without a target sample"
        )
    d = spread(docs).select(
        "doc_id", "source", F.split("text", " ").alias("w")
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.size("w") - F.lit(1)),
        lambda i: F.concat_ws(
            " ", F.element_at("w", i), F.element_at("w", i + F.lit(1))
        ),
    )
    # ONE tokenize pass, ZERO corpus-scale shuffle (r11 cost pass, two
    # iterations).  The r10 shape grouped the gram stream to
    # per-(doc, source, bucket) counts and checkpointed them — but at
    # 1024 buckets most counts are 1, so that corpus groupBy exchange
    # shuffled nearly the whole gram mass for no compression.  A first
    # r11 cut re-derived the gram stream per consumer instead (no
    # checkpoint at all): it won idle A/Bs (sf1 3.36 -> 2.13) but LOST
    # 2.6x inside the full 275-query bench (1.39 -> 3.62 noise-
    # normalized) — the tokenize+spread of the wide text column is
    # cheap idle and expensive under serving memory pressure (the
    # basket-kernel lesson again: measure in the serving context).
    # Shipped shape: checkpoint the exploded bucket stream BEFORE any
    # shuffle — both consumers read the narrow (doc, source, bucket)
    # blocks, pass 1 partial-aggs to the |buckets|-row distribution
    # table (KB shuffle), pass 2 scores docs through the broadcast
    # weight table into a doc-keyed partial agg.  Same storage mass as
    # the r10 shape, one corpus exchange fewer.  At true 100 TB the
    # per-snapshot materialization layer replaces the checkpoint
    # (SCALE.md r11 localCheckpoint contract).
    g = (
        d.filter(F.size("w") >= 2)
        .select("doc_id", "source", F.explode(grams).alias("gram"))
        .select(
            "doc_id",
            "source",
            (
                F.conv(F.substring(F.md5("gram"), 1, 8), 16, 10).cast("long")
                % buckets
            ).alias("bucket"),
        )
        .localCheckpoint(eager=False)
    )
    # Both bucket distributions from ONE conditional agg (plain counts,
    # no count_distinct — no Expand), replacing the raw/tgt left join.
    bt = g.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("cr"),
        F.count(
            F.when(F.col("source") == target_source, F.lit(1))
        ).alias("ct"),
    )
    totals = bt.agg(F.sum("cr").alias("tr"), F.sum("ct").alias("tt"))
    lw = bt.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.round(
            F.log(
                (
                    (F.col("ct") + F.lit(1))
                    / (F.col("tt") + F.lit(buckets))
                )
                / (
                    (F.col("cr") + F.lit(1))
                    / (F.col("tr") + F.lit(buckets))
                )
            )
            * F.lit(1_000_000),
            0,
        )
        .cast("long")
        .alias("lw_micro"),
    )
    per_doc = (
        g.join(F.broadcast(lw), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("lw_micro").alias("weight_micro"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("weight_micro", F.lit(0)).alias("weight_micro"),
            F.when(F.col("n_grams").isNull(), F.lit(0.0))
            .otherwise(
                round4(
                    F.col("weight_micro")
                    / (F.lit(1_000_000.0) * F.col("n_grams"))
                )
            )
            .alias("avg_weight"),
        )
    )


ZIPF_TOP_TYPES = 200


def zipf_fit(docs: DataFrame, top: int = ZIPF_TOP_TYPES) -> DataFrame:
    """Zipf rank-frequency fit over the corpus's top token types: the
    least-squares slope/intercept/r2 of ln(count) against ln(rank) — the
    classic corpus-health diagnostic (natural language tracks slope ~ -1;
    boilerplate-heavy or synthetic corpora flatten or steepen it).

    Rank is assigned by the same single-row array-collapse as
    encode_token_ids (sort the top-K survivors once, posexplode) — never
    a partition-less window; the regression is one ``regr_*`` aggregate
    over ``top`` rows.  round4 on the outputs absorbs the ~1e-13
    float-sum ordering noise of the regression sums.

    Output (one row): n_types, slope, intercept, r2 (all round4 except
    n_types).

    Scale (100 TB): one token-count shuffle (the same aggregate every
    vocab consumer shares) -> TakeOrdered top-K heap -> a KB-sized
    collapse; the regression input is ``top`` rows regardless of corpus
    size.
    """
    toks = docs.select(
        F.explode(F.split("text", " ")).alias("token")
    )
    freq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    topk = freq.orderBy(F.col("cnt").desc(), "token").limit(top)
    ranked = ranked_collapse(topk).select(
        F.col("rk").cast("double").alias("rank"),
        F.col("cnt").cast("double").alias("cnt"),
    )
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        round4(F.regr_slope(F.log("cnt"), F.log("rank"))).alias("slope"),
        round4(
            F.regr_intercept(F.log("cnt"), F.log("rank"))
        ).alias("intercept"),
        round4(F.regr_r2(F.log("cnt"), F.log("rank"))).alias("r2"),
    )


SRC_DIV_BUCKETS = 1024


def source_divergence(docs: DataFrame, buckets: int = SRC_DIV_BUCKETS) -> DataFrame:
    """Pairwise distribution distance between SOURCES: each source's
    unigram distribution is hashed into a fixed ``buckets``-bucket space
    (the DSIR discipline — fixed keyspace regardless of vocabulary), and
    every source pair gets its Bhattacharyya coefficient and Hellinger
    distance — the corpus-drift report a pipeline owner reads before
    setting mixture weights (did the new crawl shift the distribution?).

    Hellinger, not KL/JS, deliberately: H = sqrt(1 - BC) needs only
    products, sums, and IEEE-correctly-rounded sqrt — no logarithms, so
    both engines agree to ~1e-13 before the round4 boundary (the same
    reason the char-LM scorer uses integer micro-logprobs: libm log is
    the one non-portable primitive).

    Columns: source_a, source_b (a < b), bhattacharyya, hellinger
    (both round4).  A pair sharing ZERO buckets emits no row (BC would
    be exactly 0 / H exactly 1): totally-disjoint sources are absent,
    which real hashed unigram spaces essentially never produce at 1024
    buckets — fixture-pinned in test_round6_ops.

    Scale (100 TB): per-(source, bucket) counts partial-agg down to
    |sources| x ``buckets`` rows no matter the corpus size; the pair
    join runs on that KB-scale relation.  One corpus-scan shuffle total.
    """
    occ = (
        docs.select(
            "source", F.explode(F.split("text", " ")).alias("w")
        )
        .select(
            "source",
            (
                F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("long")
                % buckets
            ).alias("bucket"),
        )
        .groupBy("source", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = occ.groupBy("source").agg(F.sum("n").alias("t"))
    p = occ.join(tot, "source").select(
        "source",
        "bucket",
        (F.col("n").cast("double") / F.col("t")).alias("p"),
    )
    a = p.alias("a")
    b = p.alias("b")
    bc = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.sum(F.sqrt(F.col("a.p") * F.col("b.p"))).alias("bc"))
    )
    return bc.select(
        "source_a",
        "source_b",
        round4(F.col("bc")).alias("bhattacharyya"),
        round4(
            F.sqrt(F.greatest(F.lit(1.0) - F.col("bc"), F.lit(0.0)))
        ).alias("hellinger"),
    )


SHARD_TARGET_BYTES = 16384


def shard_plan(docs: DataFrame, target_bytes: int = SHARD_TARGET_BYTES) -> DataFrame:
    """Output-shard planning by byte budget: documents in the stable
    md5(doc_id) order are packed into contiguous shards of ~``target_bytes``
    (a doc's shard = its STARTING cumulative offset div target, so shard
    boundaries are deterministic and every engine computes the same
    packing) — the materialization-planning step before
    ``materialize_training_shards`` writes files, sized so downstream
    readers get uniform splits instead of whatever ingest order produced.

    Columns: shard_id, n_docs, shard_bytes.

    Scale (100 TB): the cumulative sum is the same distributed two-level
    prefix sum as :func:`token_budget_sample` (16 hash buckets, per-bucket
    offsets broadcast, within-bucket running window) — no single-partition
    WindowExec; the shard rollup is a partial agg on shard_id.  NULL-text
    docs count 0 bytes and still land in a shard.
    """
    d = docs.select(
        "doc_id",
        F.coalesce(F.length("text").cast("long"), F.lit(0)).alias("nb"),
        F.md5(F.col("doc_id").cast("string")).alias("rk"),
    ).withColumn("bkt", F.substring("rk", 1, 1))
    per_bucket = d.groupBy("bkt").agg(F.sum("nb").alias("bsum"))
    b2 = per_bucket.select(
        F.col("bkt").alias("_b2"), F.col("bsum").alias("_s2")
    )
    offsets = (
        per_bucket.join(b2, F.col("_b2") < F.col("bkt"), "left")
        .groupBy(F.col("bkt").alias("_bkt"))
        .agg(F.coalesce(F.sum("_s2"), F.lit(0)).alias("offset"))
    )
    win = Window.partitionBy("bkt").orderBy("rk", "doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = d.join(
        F.broadcast(offsets), F.col("bkt") == F.col("_bkt")
    ).withColumn("cum", F.col("offset") + F.sum("nb").over(win))
    return (
        cum.select(
            "doc_id",
            "nb",
            F.expr(f"(cum - nb) div {int(target_bytes)}").alias("shard_id"),
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nb").alias("shard_bytes"),
        )
    )


COMPACT_INGEST_BYTES = 4096  # simulated ingest-grain file size


def compaction_plan(
    docs: DataFrame,
    ingest_bytes: int = COMPACT_INGEST_BYTES,
    target_bytes: int = SHARD_TARGET_BYTES,
) -> DataFrame:
    """Small-file compaction planning (the OPTIMIZE/rewrite step every
    lakehouse runs after incremental ingest): the ingest wrote
    ~``ingest_bytes`` files (:func:`shard_plan` at ingest grain); plan
    merges of CONSECUTIVE files into ~``target_bytes`` outputs.  Group
    assignment is the same deterministic trick as shard packing — a
    file's group is its STARTING cumulative offset div target — so
    every engine plans the identical merge jobs with no sequential
    greedy.

    Columns: group_id, n_files, n_docs, group_bytes, needs_merge
    (false for a group that is already a single file — nothing to do).

    Scale (100 TB): the file relation is corpus_bytes/ingest_bytes
    rows (metadata-scale); the cumulative sum runs two-level with
    bucket = shard_id div 1024 (a prefix of the order — no
    single-partition WindowExec); the rollup is a partial agg on
    group_id.
    """
    files = shard_plan(docs, ingest_bytes).withColumn(
        "bkt", F.expr("shard_id div 1024")
    )
    per_bucket = files.groupBy("bkt").agg(F.sum("shard_bytes").alias("bsum"))
    b2 = per_bucket.select(
        F.col("bkt").alias("_b2"), F.col("bsum").alias("_s2")
    )
    offsets = (
        per_bucket.join(b2, F.col("_b2") < F.col("bkt"), "left")
        .groupBy(F.col("bkt").alias("_bkt"))
        .agg(F.coalesce(F.sum("_s2"), F.lit(0)).alias("offset"))
    )
    win = (
        Window.partitionBy("bkt")
        .orderBy("shard_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = files.join(
        F.broadcast(offsets), F.col("bkt") == F.col("_bkt")
    ).withColumn(
        "cum_start",
        F.col("offset") + F.sum("shard_bytes").over(win) - F.col("shard_bytes"),
    )
    return (
        cum.select(
            F.expr(f"cum_start div {int(target_bytes)}").alias("group_id"),
            "n_docs",
            "shard_bytes",
        )
        .groupBy("group_id")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("n_docs").alias("n_docs"),
            F.sum("shard_bytes").alias("group_bytes"),
        )
        .withColumn("needs_merge", F.col("n_files") > 1)
    )


def priority_sample(docs: DataFrame, k: int = 64) -> DataFrame:
    """Weighted sample of k documents by PRIORITY SAMPLING (Duffield,
    Lund & Thorup, JACM 2007): each doc gets priority q_i = w_i / u_i
    for a uniform u_i, the top-k by priority are kept, and each kept doc
    carries the unbiased subset-sum estimator weight max(w_i, tau) where
    tau is the (k+1)-th priority — so any downstream sum over the sample
    estimates the corpus total without bias.  The length-weighted variant
    of the uniform reservoir every corpus-stats pipeline needs ("sample
    big docs proportionally, but keep the estimate honest").

    Engine-exact determinism: u_i derives from md5(doc_id) (first 8 hex
    -> integer in [1, 2^32]), and the priority is the EXACT integer
    w_i * 2^32 div u_i — no float pow/log, so selection and tau are
    bit-identical in any engine (w*2^32 <= ~9e13 for document weights,
    far inside int64).  Ties break on doc_id through a struct threshold
    compare, never a global row_number.

    Plan shape: top-(k+1) is TakeOrderedAndProject (per-partition
    partial top-k, no global sort, no single-partition window); the
    1-row threshold broadcast-joins back onto those k+1 rows.

    Output: doc_id, weight, priority, est_weight — k rows.
    """
    scored = docs.select(
        "doc_id",
        F.col("n_chars").alias("weight"),
        F.expr(
            "(n_chars * 4294967296) div "
            "(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10)"
            " + 1)"
        ).alias("priority"),
    )
    top = scored.orderBy(
        F.col("priority").desc(), F.col("doc_id").asc()
    ).limit(k + 1)
    thresh = top.agg(
        F.min(F.struct(F.col("priority"), (-F.col("doc_id")).alias("nid")))
        .alias("t")
    ).select(
        F.col("t.priority").alias("tau"), (-F.col("t.nid")).alias("t_id")
    )
    return (
        top.crossJoin(F.broadcast(thresh))
        .where(
            (F.col("priority") > F.col("tau"))
            | ((F.col("priority") == F.col("tau")) & (F.col("doc_id") < F.col("t_id")))
        )
        .select(
            "doc_id",
            "weight",
            "priority",
            F.greatest("weight", "tau").alias("est_weight"),
        )
    )


def pmi_bigrams(docs: DataFrame, min_count: int = 5) -> DataFrame:
    """Collocation mining: pointwise-mutual-information strength for
    every bigram seen at least ``min_count`` times (Church & Hanks 1990,
    the classic collocation statistic) — the "which word pairs are
    units" signal tokenizer curricula and phrase-mining pipelines start
    from.

    Engine portability: PMI is reported as its MONOTONE ratio
    p(xy)/(p(x)p(y)) = c(xy)*N*N / (Nb*c(x)*c(y)) rather than its log
    (no libm; the ranking is identical) — computed as one double
    expression over exact integer counts with the same operand order in
    both engines, then round4.

    Plan: one token explode feeds the unigram partial-agg; one rowwise
    bigram explode (array transform, no window) feeds the bigram
    partial-agg; both totals are 1-row broadcasts, and the two unigram
    joins are vocabulary-keyed (|vocab|-row relation, never corpus-sized
    after the partial aggs).

    Output: x, y, n_xy, n_x, n_y, pmi_ratio (round4).
    """
    d = docs.select("doc_id", F.split("text", " ").alias("w"))
    uni = (
        d.select(F.explode("w").alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = d.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - F.lit(1)),
                lambda i: F.struct(
                    F.element_at("w", i).alias("x"),
                    F.element_at("w", i + F.lit(1)).alias("y"),
                ),
            )
        ).alias("p")
    ).select("p.x", "p.y").filter((F.col("x") != "") & (F.col("y") != ""))
    bi = (
        pairs.groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("n_xy"))
        .filter(F.col("n_xy") >= min_count)
    )
    n_tok = uni.agg(F.sum("n").alias("n_tok"))
    n_bi = pairs.agg(F.count(F.lit(1)).alias("n_bi"))
    return (
        bi.join(uni.select(F.col("tok").alias("x"), F.col("n").alias("n_x")), "x")
        .join(uni.select(F.col("tok").alias("y"), F.col("n").alias("n_y")), "y")
        .crossJoin(F.broadcast(n_tok))
        .crossJoin(F.broadcast(n_bi))
        .select(
            "x",
            "y",
            "n_xy",
            "n_x",
            "n_y",
            round4(
                (F.col("n_xy") * 1.0 * F.col("n_tok") * F.col("n_tok"))
                / (F.col("n_bi") * 1.0 * F.col("n_x") * F.col("n_y"))
            ).alias("pmi_ratio"),
        )
    )


def langid_agreement(
    stopword_pred: DataFrame, ngram_pred: DataFrame
) -> DataFrame:
    """Cross-method language-ID audit: the confusion matrix between the
    stopword heuristic (:func:`language_id`), the n-gram profile model
    (:func:`language_id_ngram`), and the labeled truth — the
    "do my classifiers disagree, and where" panel that decides which
    detector a cleaning pipeline can trust per language (the langid twin
    of ``pipe_dedup_agreement``'s cross-method dedup audit).

    Plan: one doc_id equi-join of the two prediction relations, then a
    partial agg to the (label, pred, pred) cube — at most
    |langs+1|^3 output rows regardless of corpus size.

    Output: lang, pred_stopword, pred_ngram, n_docs, both_correct
    (int: both predicted the label), methods_agree (int).
    """
    s = stopword_pred.select(
        "doc_id", "lang", F.col("predicted_lang").alias("pred_stopword")
    )
    g = ngram_pred.select(
        "doc_id", F.col("predicted_lang").alias("pred_ngram")
    )
    return (
        s.join(g, "doc_id")
        .groupBy("lang", "pred_stopword", "pred_ngram")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                (
                    (F.col("pred_stopword") == F.col("lang"))
                    & (F.col("pred_ngram") == F.col("lang"))
                ).cast("long")
            ).alias("both_correct"),
            F.sum(
                (F.col("pred_stopword") == F.col("pred_ngram")).cast("long")
            ).alias("methods_agree"),
        )
    )


def heaps_law_curve(docs: DataFrame) -> DataFrame:
    """Vocabulary-growth curve (Heaps/Herdan law, V(n) ~ K·n^beta): the
    distinct-token count at 16 nested corpus fractions — the companion
    diagnostic to :func:`zipf_fit` (Zipf fixes the frequency slope,
    Heaps the vocabulary scaling; both decide tokenizer budget and
    dedup-aggressiveness for a growing corpus).

    Nested samples come from the first md5 hex digit of doc_id
    (fraction f/16 = docs with digit < f), so every fraction is a
    superset of the previous — the growth curve of a single corpus in
    one pass, not 16 resamples.

    Plan: the naive formulation (16 count-distincts) would EXPAND the
    token relation 16x; instead each token partial-aggs to its MINIMUM
    bucket (first fraction where it appears) — vocabulary at f is then
    the cumulative count over a 16-row histogram, cumulated with the
    triangular join (no global window).  One token shuffle total.

    Output: sixteenth (1-16), n_docs, n_tokens, vocab.
    """
    d = docs.select(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1), 16, 10)
        .cast("int")
        .alias("b"),
        F.split("text", " ").alias("w"),
    )
    toks = d.select(
        "b", F.explode("w").alias("tok")
    ).filter(F.col("tok") != "")
    tok_hist = (
        toks.groupBy("tok")
        .agg(F.min("b").alias("mb"))
        .groupBy("mb")
        .agg(F.count(F.lit(1)).alias("vtok"))
    )
    doc_hist = d.groupBy("b").agg(
        F.count(F.lit(1)).alias("dc"),
        F.sum(F.size("w")).alias("tc"),
    )
    fr = docs.sparkSession.range(1, 17).select(
        F.col("id").cast("int").alias("sixteenth")
    )
    return (
        fr.join(F.broadcast(doc_hist), F.col("b") < F.col("sixteenth"), "left")
        .groupBy("sixteenth")
        .agg(
            F.coalesce(F.sum("dc"), F.lit(0)).alias("n_docs"),
            F.coalesce(F.sum("tc"), F.lit(0)).alias("n_tokens"),
        )
        .join(
            fr.join(
                F.broadcast(tok_hist),
                F.col("mb") < F.col("sixteenth"),
                "left",
            )
            .groupBy("sixteenth")
            .agg(F.coalesce(F.sum("vtok"), F.lit(0)).alias("vocab")),
            "sixteenth",
        )
    )


HASH_DIM = 16


def feature_hashing(docs: DataFrame, dim: int = HASH_DIM) -> DataFrame:
    """The hashing trick (Weinberger et al., ICML 2009): fixed-width
    integer count vectors per document with features = md5(token) mod
    ``dim`` — the vocabulary-free doc representation fast classifiers
    and dedup pre-filters train on (no dictionary to build, ship, or
    keep in sync across a 100 TB corpus; collisions are the documented
    trade).

    Exact and engine-portable: md5-derived buckets, integer counts, the
    vector assembled as ``dim`` conditional sums in ONE doc-keyed
    partial agg (no per-bucket shuffle, no pivot pass).

    Output: doc_id, n_tokens, vec (the ``dim`` counts comma-joined —
    a string so the value survives any engine's result canon; split on
    ',' to get the vector back).
    """
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    h = (
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10)
        .cast("long") % dim
    )
    t = toks.select("doc_id", h.alias("h"))
    return t.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.concat_ws(
            ",",
            *[
                F.sum((F.col("h") == i).cast("long")).cast("string")
                for i in range(dim)
            ],
        ).alias("vec"),
    )


def epoch_plan(docs: DataFrame, budget_factor: int = 2) -> DataFrame:
    """Per-source epoch schedule for a token budget: given a training
    budget of ``budget_factor`` x the corpus token total split UNIFORMLY
    across sources (the rebalancing counterpart of
    :func:`mixture_weights`' per-language shares), how many passes
    (epochs) over each source the sampler must plan — the repeat-factor
    table behind every "small high-quality source gets 4 epochs, the
    web crawl gets 0.3" pretraining data recipe.

    Exact integer math throughout: target_tokens = (T * factor) div
    n_sources; epochs_micro = target * 1e6 div source_tokens (1e6 = one
    full pass); planned_tokens = source_tokens * epochs_micro div 1e6
    (what the sampler will actually emit after integer truncation —
    reported so the budget shortfall is visible, not hidden).

    Scale: one (source) partial agg over the corpus + a broadcast 1-row
    total; output is |sources| rows.

    Output: source, n_docs, n_tokens, target_tokens, epochs_micro,
    full_epochs, planned_tokens.
    """
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " ")).cast("long")).alias("n_tokens"),
    )
    totals = per_src.agg(
        F.sum("n_tokens").alias("t_total"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    return (
        per_src.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.expr(
                f"(t_total * {budget_factor}) div n_sources"
            ).alias("target_tokens"),
        )
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "target_tokens",
            F.expr("(target_tokens * 1000000) div n_tokens").alias(
                "epochs_micro"
            ),
        )
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "target_tokens",
            "epochs_micro",
            F.expr("epochs_micro div 1000000").alias("full_epochs"),
            F.expr("(n_tokens * epochs_micro) div 1000000").alias(
                "planned_tokens"
            ),
        )
    )


def winnowing_pairs(
    docs: DataFrame,
    gram: int = 8,
    window: int = 4,
    max_df: int = 10,
    min_shared: int = 2,
) -> DataFrame:
    """Winnowing near-dup pairs (Schleimer, Wilkerson & Aiken 2003 —
    the MOSS fingerprinting scheme): hash every ``gram``-char window,
    keep the MIN hash of every ``window`` consecutive hashes (the
    winnowing guarantee: any shared substring of length >= gram +
    window - 1 yields at least one shared fingerprint), distinct the
    selections per doc, and count shared fingerprints per doc pair —
    the local-match generalization of :func:`rolling_fingerprint`'s
    single whole-doc minimum.

    Scale discipline: the gram hashes compute ONCE per row (a rowwise
    md5 transform) and explode to (doc_id, pos, hash) rows; the
    window-min selection is one doc_id-keyed sliding window over that
    relation — NOT a nested array lambda, which Catalyst would inline
    and re-evaluate the whole hash array per window (O(len * window)
    md5 calls; measured 60 s vs 4 s at sf0.1).  Per-doc series are
    text-length-bounded, so the window partitioning is safe at any
    corpus size.  The pair join goes through (fingerprint) posting
    lists with a ``max_df`` stop-fingerprint cap — the boilerplate
    8-gram shared by half the corpus is dropped BEFORE it can create a
    quadratic posting-list join, the same df-cap discipline as the LSH
    bucket cap.  Fingerprints are the fixed-width 8-hex md5 prefix, so
    lexicographic min == numeric min in both engines.

    Output: doc_a, doc_b, shared_fps, a_fps, b_fps (pairs with
    shared_fps >= ``min_shared``).
    """
    from pyspark.sql import Window

    n_hashes = F.greatest(F.lit(1), F.length("text") - F.lit(gram - 1))
    hashes = F.transform(
        F.sequence(F.lit(1), n_hashes),
        lambda i: F.substring(
            F.md5(F.col("text").substr(i, F.lit(gram))), 1, 8
        ),
    )
    exploded = (
        spread(docs)
        .select(
            "doc_id",
            n_hashes.alias("nh"),
            F.posexplode(hashes).alias("pos0", "hv"),
        )
        .select("doc_id", "nh", (F.col("pos0") + 1).alias("i"), "hv")
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.currentRow, window - 1)
    )
    fps = (
        exploded.select(
            "doc_id",
            "i",
            "nh",
            F.min("hv").over(w).alias("fp"),
        )
        .filter(
            F.col("i")
            <= F.greatest(F.lit(1), F.col("nh") - F.lit(window - 1))
        )
        .select("doc_id", "fp")
        .distinct()
    )
    df_counts = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
    kept = fps.join(
        df_counts.filter(F.col("df") <= max_df).select("fp"), "fp"
    )
    per_doc = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fps"))
    pairs = (
        kept.alias("l")
        .join(
            kept.alias("r"),
            (F.col("l.fp") == F.col("r.fp"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .groupBy(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )
    return (
        pairs.join(
            per_doc.select(
                F.col("doc_id").alias("doc_a"),
                F.col("n_fps").alias("a_fps"),
            ),
            "doc_a",
        )
        .join(
            per_doc.select(
                F.col("doc_id").alias("doc_b"),
                F.col("n_fps").alias("b_fps"),
            ),
            "doc_b",
        )
        .select("doc_a", "doc_b", "shared_fps", "a_fps", "b_fps")
    )


def winnow_decontaminate(pairs: DataFrame, docs: DataFrame) -> DataFrame:
    """Substring-level train/eval decontamination (the Lee et al. 2022
    concern :func:`dedup_substring` measures corpus-wide, applied to
    the split boundary): an eval (val/test) document that shares ANY
    winnowing fingerprint with a train document contains a verbatim
    run of >= gram + window - 1 characters from the training set — the
    contamination long-doc MinHash misses (whole-doc Jaccard dilutes a
    single shared paragraph below threshold; fingerprints are local).
    Complements :func:`fuzzy_decontaminate`'s near-whole-doc flavor.

    Split rule is the shared :func:`split_assignment` hash, so shards,
    split report, and decontamination can never disagree.

    Scale: one broadcast of the |docs|-row (doc_id, split) relation
    onto the (already df-capped, persisted) pair relation; output is
    flagged eval docs only.

    Output: doc_id, split, n_train_matches, max_shared_fps.
    """
    split = docs.select("doc_id", split_assignment().alias("split"))
    sym = pairs.select(
        F.col("doc_a").alias("eval_id"),
        F.col("doc_b").alias("other_id"),
        "shared_fps",
    ).unionByName(
        pairs.select(
            F.col("doc_b").alias("eval_id"),
            F.col("doc_a").alias("other_id"),
            "shared_fps",
        )
    )
    j = (
        sym.join(
            split.select(
                F.col("doc_id").alias("eval_id"),
                F.col("split").alias("split"),
            ),
            "eval_id",
        )
        .join(
            split.select(
                F.col("doc_id").alias("other_id"),
                F.col("split").alias("other_split"),
            ),
            "other_id",
        )
        .filter(
            (F.col("split") != "train") & (F.col("other_split") == "train")
        )
    )
    return j.groupBy(F.col("eval_id").alias("doc_id"), "split").agg(
        F.count(F.lit(1)).alias("n_train_matches"),
        F.max("shared_fps").alias("max_shared_fps"),
    )


def source_lang_gini(docs: DataFrame) -> DataFrame:
    """Per-source language diversity by Gini impurity — the "is this
    source monolingual or a mixer" panel of corpus assembly, chosen
    over Shannon entropy because 1 - sum(p_i^2) needs NO logarithm:
    gini_micro = 1e6 - sum(cnt_i^2) * 1e6 div total^2 is exact integer
    arithmetic end to end (0 = one language, -> 1e6 = uniform mix).

    Scale: one (source, lang) partial agg, collapsed to |sources|
    rows; cnt^2 sums stay far inside int64 (cnt <= corpus rows).

    Output: source, n_langs, n_docs, gini_micro.
    """
    per = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return per.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_langs"),
        F.sum("cnt").alias("n_docs"),
        F.expr(
            "1000000 - (sum(cnt * cnt) * 1000000)"
            " div (sum(cnt) * sum(cnt))"
        ).alias("gini_micro"),
    )


VOCAB_COVERAGE_KS = (4, 16, 64, 256, 1024)


def vocab_coverage(docs: DataFrame, ks=VOCAB_COVERAGE_KS) -> DataFrame:
    """Vocabulary coverage curve: what fraction of corpus tokens the
    top-K token types cover, at the K checkpoints a tokenizer designer
    sweeps — the "how big must the vocab be" panel (the cumulative
    complement of :func:`zipf_fit`'s rank-frequency view).

    The head retrieval is a TakeOrdered heap ((cnt desc, token asc) —
    deterministic ties) and the ranking runs through ranked_collapse's
    sorted-array trick on that k-row relation, so there is no global
    window anywhere; coverage is exact integer micro against the
    corpus token total.

    Output: vocab_k, covered_tokens, total_tokens, coverage_micro.
    """
    freq = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = freq.agg(F.sum("cnt").alias("total_tokens"))
    head = freq.orderBy(F.col("cnt").desc(), F.col("token")).limit(
        max(ks)
    )
    ranked = ranked_collapse(
        head.select(F.col("token"), F.col("cnt"))
    )
    cov = None
    for k in ks:
        row = (
            ranked.filter(F.col("rk") <= k)
            .agg(F.sum("cnt").alias("covered_tokens"))
            .select(
                F.lit(k).cast("int").alias("vocab_k"),
                F.coalesce("covered_tokens", F.lit(0)).alias(
                    "covered_tokens"
                ),
            )
        )
        cov = row if cov is None else cov.unionByName(row)
    return cov.crossJoin(F.broadcast(total)).select(
        "vocab_k",
        "covered_tokens",
        "total_tokens",
        F.expr("(covered_tokens * 1000000) div total_tokens").alias(
            "coverage_micro"
        ),
    )
