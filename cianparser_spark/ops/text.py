"""Text analysis operators — all native Spark expressions (Catalyst
codegen; zero Python in the hot path) with exact ANSI-SQL oracles.

* token_count        — whitespace tokens + a BPE-ish sub-token estimate
* quality_score      — length / punctuation / stopword-ratio features
* lang_id            — stopword-hit n-gram heuristic over 5 languages
* fingerprint        — md5 of whitespace-normalized lowercase text
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# tiny per-language stopword marker sets (deterministic heuristic)
LANG_MARKERS = {
    "en": ["the", "and", "of", "is", "with"],
    "de": ["der", "und", "die", "ist", "mit"],
    "fr": ["le", "et", "la", "est", "avec"],
    "es": ["el", "y", "la", "es", "con"],
    "zh": ["的", "和", "是", "了", "在"],
}
STOPWORDS_EN = ["the", "a", "of", "and", "is", "to", "in"]


def _tokens(col):
    return F.split(F.trim(col), r"\s+")


def token_count(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Whitespace token count plus a BPE-ish subword estimate
    (≈ chars/4 per token, lower-bounded by the word count)."""
    toks = _tokens(F.col(text_col))
    return docs.select(
        id_col,
        F.size(toks).alias("n_tokens"),
        F.greatest(
            F.size(toks),
            F.ceil(F.length(F.regexp_replace(F.col(text_col), r"\s+", "")) / F.lit(4)).cast("int"),
        ).cast("long").alias("n_subtokens"),
    )


def quality_score(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Deterministic quality features + composite score.

    score = mean_token_len ∈ [2,12] scaled − stopword_ratio penalty,
    clipped to [0,1]; short docs (<20 tokens) penalized.
    """
    toks = _tokens(F.col(text_col))
    n_tok = F.size(toks)
    n_chars = F.length(F.col(text_col))
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS_EN)))
    mean_tok = n_chars / F.greatest(n_tok, F.lit(1))
    stop_ratio = stop_hits / F.greatest(n_tok, F.lit(1))
    punct = F.length(F.regexp_replace(F.col(text_col), r"[\p{L}\p{N}\s]", ""))
    punct_ratio = punct / F.greatest(n_chars, F.lit(1))
    score = (
        F.least(F.greatest((mean_tok - 2) / 10, F.lit(0.0)), F.lit(1.0)) * 0.5
        + (F.lit(1.0) - F.least(stop_ratio * 2, F.lit(1.0))) * 0.3
        + (F.lit(1.0) - F.least(punct_ratio * 5, F.lit(1.0))) * 0.2
    )
    score = F.when(n_tok < 20, score * 0.5).otherwise(score)
    return docs.select(
        id_col,
        n_tok.cast("long").alias("n_tokens"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(score, 6).alias("quality"),
    )


def lang_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Predict language by stopword-marker hit counts (argmax, ties by
    language code order — deterministic)."""
    toks = _tokens(F.lower(F.col(text_col)))

    def _hits(words):
        # NB: a two-arg lambda would make F.filter pass the element
        # INDEX as the second argument; bind the word set via closure
        ws = tuple(words)
        return lambda t: t.isin(*ws)

    scores = [
        F.size(F.filter(toks, _hits(ws))).alias(f"s_{lang}")
        for lang, ws in LANG_MARKERS.items()
    ]
    scored = docs.select(id_col, *scores)
    langs = list(LANG_MARKERS)
    best = F.greatest(*[F.col(f"s_{lang}") for lang in langs])
    pred = F.lit(None).cast("string")
    for lang in reversed(langs):  # earlier langs win ties
        pred = F.when(F.col(f"s_{lang}") == best, F.lit(lang)).otherwise(pred)
    return scored.select(id_col, pred.alias("lang_pred"))


# PII patterns shared by the Spark op and its SQL oracle twin: the
# subset of regex that Java's engine (leftmost-first backtracking) and
# RE2-family engines (leftmost-longest) match IDENTICALLY — character
# classes, bounded repetition, \b anchors; no alternation-order or
# greediness ambiguity, no lookaround, no backrefs.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ip": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "cc": r"\b\d{16}\b",
    "phone": r"\+\d{9,15}\b",
}
PII_ORDER = ("email", "ip", "cc", "phone")  # cc before phone: a 16-digit
# run must become [CC], never a phone tail


def pii_scrub(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Training-data PII redaction: replace emails / IPv4s / 16-digit
    card runs / international phone numbers with typed placeholders and
    count each category (counts on the ORIGINAL text, so they are
    independent of replacement order).  Pure native ``regexp_replace``/
    ``regexp_count`` chain — map-only, zero shuffle, codegen'd; at
    100 TB this is a free rider on whatever scan already reads the
    text column."""
    out = F.col(text_col)
    counts = [
        F.regexp_count(F.col(text_col), F.lit(PII_PATTERNS[k])).cast("long")
        .alias(f"n_{k}")
        for k in PII_ORDER
    ]
    for k in PII_ORDER:
        out = F.regexp_replace(out, PII_PATTERNS[k], f"[{k.upper()}]")
    return docs.select(id_col, *counts, out.alias("scrubbed"))


def fingerprint(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Document fingerprint: md5 over lowercased, whitespace-collapsed
    text — identical in Spark and any SQL engine with md5()."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return docs.select(id_col, F.md5(norm).alias("fingerprint"))


# ------------------------------------------------------------ n-grams

def ngram_expr(text_col: str, n: int):
    """FULL word n-grams as a native Catalyst expression
    (``array<string>``).  Unlike ``dedup.shingle_expr`` (which joins a
    short doc into one sub-k shingle so every doc has a signature), a
    doc with fewer than ``n`` words yields an EMPTY array here —
    decontamination and repetition statistics are defined over exact
    n-grams only.  Same word grammar as the rest of the text ops:
    split on whitespace runs, drop empties."""
    words = F.filter(F.split(F.trim(F.col(text_col)), r"\s+"),
                     lambda w: w != F.lit(""))
    cnt = F.size(words)
    grams = F.transform(
        F.sequence(F.lit(0), cnt - F.lit(n)),
        lambda i: F.array_join(F.slice(words, i + F.lit(1), n), " "),
    )
    return (
        F.when(cnt >= n, grams).otherwise(F.array().cast("array<string>"))
    )


def decontaminate(docs: DataFrame, benchmark: DataFrame, n: int = 8,
                  text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Benchmark decontamination — the training-pipeline step that
    flags corpus documents sharing any exact word n-gram with an
    evaluation/benchmark set (the GPT-3/Llama recipe; n=8..13 in
    production, parameterized here).

    Returns one row per corpus doc: ``(id, n_ngrams, n_contaminated,
    contaminated, first_hit)`` where ``n_ngrams`` counts the doc's
    DISTINCT n-grams, ``n_contaminated`` how many of those occur
    anywhere in the benchmark set, and ``first_hit`` is the
    lexicographically smallest matching n-gram ('' when clean —
    kept non-null so engines agree).

    100 TB shape: the benchmark side is tiny (an eval suite, thousands
    of docs) — its distinct n-gram set is BROADCAST, so the corpus
    side is one map-only scan (native shingling, codegen) feeding a
    broadcast hash join + a per-doc partial aggregate.  No corpus-side
    shuffle of n-grams, no self-join; work is linear in corpus tokens.
    Reference analogy: the seen-set membership test of
    cianparser/base_list.py:24 lifted from URLs to n-grams.
    """
    bench = (
        benchmark.select(
            F.explode(F.array_distinct(ngram_expr(text_col, n))).alias("gram"))
        .distinct()
    )
    per_doc = docs.select(
        id_col, F.array_distinct(ngram_expr(text_col, n)).alias("_grams"))
    hits = (
        per_doc.select(id_col, F.explode("_grams").alias("gram"))
        .join(F.broadcast(bench), "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("_nc"), F.min("gram").alias("_first"))
    )
    return (
        per_doc.join(hits, id_col, "left")
        .select(
            id_col,
            F.size("_grams").cast("long").alias("n_ngrams"),
            F.coalesce("_nc", F.lit(0)).cast("long").alias("n_contaminated"),
            (F.coalesce("_nc", F.lit(0)) > 0).cast("int").alias("contaminated"),
            F.coalesce("_first", F.lit("")).alias("first_hit"),
        )
    )


def repetition_stats(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     dup_word_max: float = 0.85, dup_2gram_max: float = 0.6,
                     top_2gram_char_max: float = 0.1) -> DataFrame:
    """Gopher-style repetition quality signals, entirely map-only.

    Per doc: ``dup_word_frac`` / ``dup_2gram_frac`` / ``dup_3gram_frac``
    (1 − distinct/total over words and full n-grams), the most frequent
    2-gram with its count (ties broken by lexicographic order — the
    smallest gram wins), ``top_2gram_char_frac`` (count × gram length ÷
    doc chars; occurrences may overlap, so this is the standard upper-
    bound heuristic, not exact coverage), and a composite ``repetitive``
    flag at the given thresholds.

    100 TB shape: zero shuffle.  The mode-2-gram is computed INSIDE the
    row via ``array_sort`` + a single ``aggregate`` pass over the
    sorted array (longest equal run), so no explode→groupBy→window per
    doc — the whole operator is one codegen'd projection riding the
    text scan.  A per-doc explode would shuffle ~|tokens| rows; this
    shuffles none.
    """
    words = F.filter(F.split(F.trim(F.col(text_col)), r"\s+"),
                     lambda w: w != F.lit(""))
    n_words = F.size(words)
    n_chars = F.length(F.trim(F.col(text_col)))

    def dup_frac(arr):
        tot = F.size(arr)
        return F.when(
            tot > 0,
            F.round(F.lit(1.0) - F.size(F.array_distinct(arr)) / tot, 6)
        ).otherwise(F.lit(0.0))

    g2 = ngram_expr(text_col, 2)
    g3 = ngram_expr(text_col, 3)

    # longest equal run over the sorted 2-gram array == mode; strict >
    # keeps the FIRST (lexicographically smallest) gram among ties
    zero = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"),
        F.lit(0).alias("best"), F.lit("").alias("bestg"),
    )

    def step(acc, g):
        run = F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        better = run > acc["best"]
        return F.struct(
            g.alias("prev"), run.alias("run"),
            F.when(better, run).otherwise(acc["best"]).alias("best"),
            F.when(better, g).otherwise(acc["bestg"]).alias("bestg"),
        )

    top = F.aggregate(F.array_sort(g2), zero, step)
    top_cnt = top["best"]
    top_gram = top["bestg"]
    char_frac = F.when(
        top_cnt > 0,
        F.round(top_cnt * F.length(top_gram) / F.greatest(n_chars, F.lit(1)), 6)
    ).otherwise(F.lit(0.0))

    dw, d2 = dup_frac(words), dup_frac(g2)
    rep = ((dw > dup_word_max) | (d2 > dup_2gram_max)
           | (char_frac > top_2gram_char_max)).cast("int")
    return docs.select(
        id_col,
        n_words.cast("long").alias("n_words"),
        dw.alias("dup_word_frac"),
        d2.alias("dup_2gram_frac"),
        dup_frac(g3).alias("dup_3gram_frac"),
        top_gram.alias("top_2gram"),
        top_cnt.cast("long").alias("top_2gram_count"),
        char_frac.alias("top_2gram_char_frac"),
        rep.alias("repetitive"),
    )


# ------------------------------------------------------------ retrieval

def bm25_topk(docs: DataFrame, queries: DataFrame, k: int = 10,
              k1: float = 1.2, b: float = 0.75,
              text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """BM25 top-k retrieval (Lucene idf variant: ``ln(1 + (N-df+0.5)/
    (df+0.5))``) for a small query set over the corpus.

    Returns ``(query_id, rank, doc_id, score)``, rank 1..k per query by
    score DESC then doc_id ASC — scores are rounded to 6 dp BEFORE
    ranking so the order is reproducible across engines (a 1-ulp ``ln``
    difference cannot reorder).

    100 TB shape: the query term set is tiny and BROADCAST — the corpus
    token explode is filtered to query terms AT THE SCAN (isin on a
    broadcast literal join), so tf/df aggregates touch only matching
    tokens; doc lengths are a map-only projection; N and avgdl are one
    scalar aggregate cross-joined back (no driver round-trip in the
    plan).  Everything downstream of the filter is proportional to
    matching tokens, not corpus size."""
    words = F.filter(F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
                     lambda w: w != F.lit(""))
    toks = docs.select(id_col, F.explode(words).alias("term"))
    qterms = (
        queries.select(
            "query_id",
            F.explode(F.array_distinct(
                F.filter(F.split(F.trim(F.lower(F.col("query"))), r"\s+"),
                         lambda w: w != F.lit("")))).alias("term"))
        .distinct()
    )
    term_set = qterms.select("term").distinct()

    dl = docs.select(id_col, F.size(words).alias("dl"))
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"),
                   F.avg("dl").alias("avgdl"))

    tf = (
        toks.join(F.broadcast(term_set), "term")
        .groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(qterms), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5)
                  / (F.col("df") + 0.5)))
        .withColumn(
            "part",
            F.col("idf") * F.col("tf") * (k1 + 1)
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))))
        .groupBy("query_id", id_col)
        .agg(F.round(F.sum("part"), 6).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", id_col, "score")
    )


def pack_sequences(docs: DataFrame, seq_len: int = 512,
                   text_col: str = "text", id_col: str = "doc_id",
                   partitions: int | None = None) -> DataFrame:
    """Concat-and-chunk sequence packing — the GPT-pretraining layout:
    documents are concatenated in ``id_col`` order into one token
    stream, which is cut into fixed ``seq_len`` blocks.  Each doc maps
    to its token span ``[start_tok, start_tok+n_tokens)`` and the
    training sequences it lands in (``bin_first``..``bin_last``,
    ``crosses`` = spans a block boundary).

    The global running token offset is an EXACT prefix sum computed in
    two distributed phases — NOT a single global window (which would
    serialize the whole corpus through one task): (1) ONE
    range-repartition by id + in-partition sort, then the per-partition
    running sum as an Arrow-batched cumsum (``mapInPandas`` carries the
    running total across batches of its partition — a window
    partitioned by ``spark_partition_id`` would add a second, hash
    exchange, because Catalyst can't see that the data is already
    grouped by pid); (2) per-partition totals (one tiny row per
    partition) prefix-summed and broadcast-joined back as offsets.
    ``repartitionByRange`` makes partition ids ascend with the id
    ranges, so offset(pid) = sum of totals of pid' < pid.  At 100 TB
    phase 2 is a few thousand rows.  The phase-1 result is persisted so
    the totals pass doesn't re-execute the shuffle (at warehouse scale
    this intermediate is the ledger you'd checkpoint anyway).
    """
    import pandas as pd  # noqa: F401  (mapInPandas batches)

    spark = docs.sparkSession
    p = partitions or spark.sparkContext.defaultParallelism
    words = F.filter(F.split(F.trim(F.col(text_col)), r"\s+"),
                     lambda w: w != F.lit(""))
    d = (
        docs.select(id_col, F.size(words).cast("long").alias("n_tokens"))
        .repartitionByRange(p, F.col(id_col))
        .sortWithinPartitions(id_col)
        .withColumn("_pid", F.spark_partition_id())
    )

    def cumsum(iterator):
        run = 0
        for pdf in iterator:
            c = pdf["n_tokens"].to_numpy(dtype="int64").cumsum() + run
            if len(c):
                run = int(c[-1])
            yield pdf.assign(_lend=c)

    local = d.mapInPandas(
        cumsum,
        f"{id_col} long, n_tokens long, _pid int, _lend long").persist()
    totals = local.groupBy("_pid").agg(F.max("_lend").alias("_tot"))
    woff = (Window.orderBy("_pid")
            .rowsBetween(Window.unboundedPreceding, -1))
    offsets = totals.withColumn(
        "_off", F.coalesce(F.sum("_tot").over(woff), F.lit(0)))
    end = F.col("_lend") + F.col("_off")
    start = end - F.col("n_tokens")
    bin_first = F.floor(start / seq_len)
    bin_last = F.when(F.col("n_tokens") > 0,
                      F.floor((end - 1) / seq_len)).otherwise(bin_first)
    return (
        local.join(F.broadcast(offsets.select("_pid", "_off")), "_pid")
        .select(
            id_col,
            F.col("n_tokens"),
            start.alias("start_tok"),
            bin_first.cast("long").alias("bin_first"),
            bin_last.cast("long").alias("bin_last"),
            (bin_last > bin_first).cast("int").alias("crosses"),
        )
    )


# ------------------------------------------------- span-level dedup

def chunk_dedup(docs: DataFrame, chunk: int = 10,
                text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Span-level exact dedup with document reassembly (the chunked
    approximation of Lee et al.'s exact-substring training-data dedup).

    Each document is cut into non-overlapping ``chunk``-token spans;
    a span is kept iff it is the corpus-wide FIRST occurrence of its
    text (order = (doc_id, span position)), every later copy — within
    the same doc or any other — is dropped; the kept spans are then
    stitched back into the cleaned document.

    100 TB shape: the spans are produced by a single codegen'd
    projection (``sequence``+``transform``+``slice`` — no Python, no
    per-token explode), first-wins is ONE shuffle on the span hash
    (window rank over md5), and reassembly is one partial-aggregating
    ``groupBy`` on doc_id.  Span hashes are uniform by construction so
    the shuffle cannot skew; memory per group is ≤ tokens/chunk rows.
    """
    words = F.filter(F.split(F.trim(F.col(text_col)), r"\s+"),
                     lambda w: w != F.lit(""))
    n_chunks = F.ceil(F.size(words) / F.lit(chunk)).cast("int")
    spans = F.when(
        n_chunks > 0,
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(
                F.slice(words, i * chunk + 1, chunk), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))

    exploded = (
        docs.select(id_col, F.posexplode_outer(spans).alias("pos", "span"))
    )
    # Zero-chunk docs ride through as a null-span row so ONE aggregate
    # covers every doc (no docs-side re-join — a same-sized corpus
    # shuffle).  Null spans get a per-row-unique window key, so they
    # never skew one null partition and trivially rank 1 (the "z|"
    # prefix cannot collide with a 32-hex md5); the aggregates below
    # count only real spans.
    wkey = F.coalesce(
        F.md5(F.col("span")),
        F.concat(F.lit("z|"), F.col(id_col).cast("string"), F.lit(":"),
                 F.coalesce(F.col("pos"), F.lit(-1)).cast("string")),
    )
    w = Window.partitionBy(wkey).orderBy(id_col, "pos")
    ranked = exploded.withColumn("_rn", F.row_number().over(w))
    kept = (F.col("_rn") == 1) & F.col("span").isNotNull()
    return (
        ranked.groupBy(id_col)
        .agg(
            F.count("span").cast("long").alias("n_chunks"),
            F.coalesce(F.sum(kept.cast("long")), F.lit(0)).alias("n_kept"),
            (F.count("span")
             - F.coalesce(F.sum(kept.cast("long")), F.lit(0)))
            .cast("long").alias("n_removed"),
            F.md5(F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.when(kept, F.struct("pos", "span")))),
                    lambda s: s["span"],
                ),
                " ",
            )).alias("clean_md5"),
        )
    )


# ----------------------------------------------------- BPE training

def _merge_pair_expr(sym_col, left: str, right: str):
    """Greedy left-to-right application of one BPE merge (left,right)
    to an array<string> of symbols, as a single Catalyst ``aggregate``
    fold — no Python, no explode."""
    def step(acc, x):
        can = (
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right))
        )
        merged = F.concat(
            F.slice(acc, 1, F.greatest(F.size(acc) - 1, F.lit(0))),
            F.array(F.lit(left + right)),
        )
        return F.when(can, merged).otherwise(F.concat(acc, F.array(x)))

    return F.aggregate(sym_col, F.array().cast("array<string>"), step)


def bpe_train(docs: DataFrame, n_merges: int = 8,
              text_col: str = "text"):
    """Distributed byte-pair-encoding merge-table training (Sennrich
    et al. 2016) over the corpus.

    Returns ``(merges, vocab)``: ``merges`` is a driver-side list of
    ``(step, left, right, pair_count)`` in training order; ``vocab``
    is the final distinct-word table ``(word, count, pieces)`` with
    each word's symbol array after all merges.  The returned ``vocab``
    is persisted — the CALLER owns that cache (unpersist when done).

    Not thread-safe with concurrent queries on the same session: the
    merge loop temporarily flips session-global SQL confs (codegen,
    AQE, shuffle partitions) for small vocabularies and restores them
    via try/finally; a query racing the loop on the same session would
    execute under the altered confs.  Run training on its own session
    if the session is shared.

    100 TB shape: the corpus is touched ONCE (word-count aggregation,
    map-side partial); all ``n_merges`` iterations then run on the
    DISTINCT-WORD table weighted by count — |vocab| rows regardless of
    corpus size.  Per iteration: one codegen'd adjacent-pair explode +
    one groupBy(sum) + a 1-row driver collect (the argmax pair, ties
    broken count-desc then lexicographic), then the merge is applied
    to the symbol arrays via a native ``aggregate`` fold.  Nothing per
    -corpus-row ever reaches the driver.
    """
    words = (
        docs.select(F.explode(F.filter(
            F.split(F.trim(F.col(text_col)), r"\s+"),
            lambda w: w != F.lit(""))).alias("word"))
        .groupBy("word").agg(F.count("*").cast("long").alias("count"))
    )
    vocab = words.withColumn("pieces", F.split(F.col("word"), "")).persist()
    n_vocab = vocab.count()
    # The merge loop runs on |vocab| rows, not corpus rows — size its
    # partitioning to the VOCAB (64k words/partition), not to the
    # shuffle default the corpus aggregate used.  Without this, every
    # iteration pays full scheduler+shuffle overhead on near-empty
    # tasks (11 s → ~3 s for a 31-word vocabulary at local[32]).
    parallelism = docs.sparkSession.sparkContext.defaultParallelism
    parts = max(1, min(parallelism, int(n_vocab // 65536) + 1))
    small = vocab.coalesce(parts).persist()
    small.count()
    vocab.unpersist()
    vocab = small

    # Every iteration builds two NEW plans (the merge literals differ),
    # so compiled execution pays source-gen + janino + class-load per
    # iteration — 10-100× the interpreted run time of a small vocab
    # (same tradeoff as the crawl engine's _CODEGEN_ROW_FLOOR).  Run the
    # loop interpreted when the vocab is small; a web-scale vocabulary
    # (≥1M distinct words) keeps codegen.
    spark = docs.sparkSession
    # AQE re-plans each tiny groupBy as a chain of scheduler jobs —
    # per-iteration latency that dwarfs the actual work on a small
    # vocab; the loop's shapes are static, so nothing is lost turning
    # it off for the loop (measured 7.6 → 2.9 s at local[32]).
    cg_keys = ("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode",
               "spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    cg_saved = None
    if n_vocab < 1_000_000:
        cg_saved = tuple(spark.conf.get(k, None) for k in cg_keys)
        spark.conf.set(cg_keys[0], "false")
        spark.conf.set(cg_keys[1], "NO_CODEGEN")
        spark.conf.set(cg_keys[2], "false")
        spark.conf.set(cg_keys[3], str(parts))

    merges = []
    # One job per iteration: the pair-count collect is ALSO what
    # materializes the previous iteration's persisted merge result, so
    # the parent cache can only be dropped after it (pending unpersist).
    # try/finally: the conf switches above are SESSION-GLOBAL — an
    # exception mid-loop must never leave codegen/AQE off for later
    # queries on the same session.
    try:
        return _bpe_merge_loop(vocab, merges, n_merges)
    finally:
        if cg_saved is not None:
            for k, v in zip(cg_keys, cg_saved):
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


def _bpe_merge_loop(vocab, merges, n_merges):
    pending = None
    for step_no in range(1, n_merges + 1):
        pairs = vocab.filter(F.size("pieces") >= 2).select(
            "count",
            F.explode(F.transform(
                F.sequence(F.lit(0), F.size("pieces") - 2),
                lambda i: F.struct(
                    F.element_at(F.col("pieces"), i + 1).alias("l"),
                    F.element_at(F.col("pieces"), i + 2).alias("r")),
            )).alias("pair"),
        )
        best = (
            pairs.groupBy(F.col("pair.l").alias("l"),
                          F.col("pair.r").alias("r"))
            .agg(F.sum("count").alias("n"))
            .orderBy(F.desc("n"), "l", "r")
            .limit(1)
            .collect()
        )
        if pending is not None:
            pending.unpersist()
            pending = None
        if not best:
            break
        left, right, n = best[0]["l"], best[0]["r"], int(best[0]["n"])
        merges.append((step_no, left, right, n))
        nxt = vocab.withColumn(
            "pieces", _merge_pair_expr(F.col("pieces"), left, right)
        ).persist()
        pending, vocab = vocab, nxt
    # materialize the final vocab before dropping its parent's cache
    if pending is not None:
        vocab.count()
        pending.unpersist()
    return merges, vocab


def bpe_segment(docs: DataFrame, n_merges: int = 8,
                text_col: str = "text",
                trained=None) -> DataFrame:
    """Contract-shaped BPE result: train ``n_merges`` merges, then
    return the final per-word segmentation table ``(word, count,
    n_pieces, pieces_str, merge_trace)`` — ``merge_trace`` is the full
    ordered merge table rendered into every row so the oracle pins the
    training trajectory, not just the final split.  Pass ``trained``
    (a ``bpe_train`` result) to reuse one training run across
    consumers."""
    merges, vocab = trained or bpe_train(docs, n_merges, text_col)
    trace = ";".join(f"{s}:{l}+{r}={n}" for s, l, r, n in merges)
    out = vocab.select(
        "word",
        "count",
        F.size("pieces").cast("int").alias("n_pieces"),
        F.array_join("pieces", "|").alias("pieces_str"),
        F.lit(trace).alias("merge_trace"),
    )
    return out


def bpe_token_counts(docs: DataFrame, vocab: DataFrame,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Corpus-wide application of a trained BPE vocabulary: per-doc
    word and BPE-token counts.

    The trained ``vocab`` (word → pieces, |vocab| rows) BROADCASTS to
    the token explode, so the corpus side is one map-only pass + one
    per-doc partial aggregate — no corpus-keyed shuffle besides the
    doc_id groupBy.  Out-of-vocabulary words fall back to their
    character count (the untrained lower bound).  This is the
    train→apply half of the tokenizer story: `bpe_train` prices the
    merge table, this op prices the corpus at serving time.
    """
    # explode_outer keeps zero-word docs as a null-word row, so ONE
    # aggregate covers every doc — no docs-side re-join (which would be
    # a same-sized SortMergeJoin, a gratuitous second corpus shuffle)
    words = docs.select(
        id_col,
        F.explode_outer(F.filter(
            F.split(F.trim(F.col(text_col)), r"\s+"),
            lambda w: w != F.lit(""))).alias("word"),
    )
    wp = vocab.select("word", F.size("pieces").cast("long").alias("n_pieces"))
    return (
        words.join(F.broadcast(wp), "word", "left")
        .withColumn("n_pieces",
                    F.coalesce("n_pieces", F.length("word").cast("long")))
        .groupBy(id_col)
        .agg(F.count("word").cast("long").alias("n_words"),
             F.coalesce(F.sum("n_pieces"), F.lit(0)).alias("n_bpe_tokens"))
    )
