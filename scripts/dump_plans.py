"""Generate PLANS.md: formatted physical plans for representative
driver-contract queries, with the plan properties that matter at 100 TB
called out (filter/projection pushdown, broadcast joins, top-k instead
of global sort, whole-stage codegen spans)."""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as em  # noqa: E402
from cianparser_spark.engine.session import get_spark  # noqa: E402

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

PICKS = [
    ("s9_definer_cities_inflected", "the pymorphy2 normal-form stand-in is ONE "
     "literal create_map probe inside whole-stage codegen (309 entries folded "
     "into the plan) — zero jobs, zero Python, zero shuffle beyond the "
     "first-wins aggregate; at 10^6 probes the normalization costs nothing "
     "over the nominative path"),
    ("u7_filter_pushdown", "filters reach the parquet scan (PushedFilters), "
     "partial aggregation before the single-row exchange"),
    ("p12_projection", "column pruning: ReadSchema carries only the 3 selected "
     "columns; predicate pushed to the scan"),
    ("j1_lookup_join", "dimension lookup = BroadcastHashJoin (no shuffle of the "
     "fact side)"),
    ("j4_anti_join", "seen-set membership as LeftAnti join"),
    ("u6_sort_pushdown", "ORDER BY + LIMIT compiles to TakeOrderedAndProject — "
     "no global sort materialization"),
    ("a1_first_wins", "first-wins dedup: single exchange on the window keys, "
     "codegen around it"),
    ("dedup_exact", "exact dedup = hash aggregate with map-side partial min"),
    ("text_quality", "pure expression pipeline: one WholeStageCodegen over the "
     "scan, zero exchanges, zero Python"),
    ("ann_topk", "brute-force cosine top-k: higher-order functions stay JVM-side, "
     "TakeOrderedAndProject caps the result"),
    ("j2_metro_join", "crawl output x 510-station metro dimension: "
     "BroadcastHashJoin (dimension is always the build side), aggregation "
     "after the join stays partial-first"),
    ("s9_definer_cities", "definer pipeline: Python confined to the one-shot "
     "probe kernel; extraction/reject/first-wins/sort are a native "
     "aggregate over the kernel output — ONE tiny shuffle on the name key"),
    ("url_canonical", "URL canonicalization (the frontier seen-key "
     "function) is a pure expression pipeline — parse_url/regexp/"
     "array_sort inside WholeStageCodegen, no Python, no exchange "
     "except the final TakeOrderedAndProject"),
    ("dedup_ngram_topk", "shingling is a native Catalyst expression "
     "(split/transform/array_join inside WholeStageCodegen — no "
     "ArrowEvalPython anywhere in the plan); candidate generation is the "
     "shingle equi-join, Jaccard from map-side partial counts"),
    ("u1_url_builder", "the full list-URL grammar compiled by ONE Catalyst "
     "expression: a BroadcastHashJoin against the 510-station metro dim "
     "feeds a single WholeStageCodegen projection (concat/when/transform/"
     "filter) — zero Python, so a 10^6-config frontier compiles its URLs "
     "executor-side"),
    ("dedup_minhash_lsh", "only the splitmix minhash crosses to Python — a "
     "batched ArrowEvalPython evaluated once per side of the banded "
     "self-join (pass a persisted sigs= to compute once; measured ~5% "
     "here since vectorization made the kernel cheap); banding/candidate "
     "join and the Jaccard verify (candidates only, never all-pairs) are "
     "native joins on derived keys"),
    ("frontier_membership", "the crawler's default-mode seen-set path: "
     "ONE LeftAnti join of the candidate scan against the seen keys, "
     "no Python anywhere in the plan and no prefilter in front of it "
     "(CrawlEngine._exact_unseen builds the same join)"),
    ("frontier_membership_exact", "the sorted-run membership wave "
     "(engine/seenidx string runs, no longer a crawler tier): ONE map-only ArrowEvalPython "
     "run probe over the candidate scan with NO join operator in the "
     "plan at all; the seen table contributes zero scan, zero exchange, "
     "zero hash relation (its keys live in the per-bucket run files the "
     "closure references by path), so per-wave cost is bounded by probe "
     "size however large seen grows"),
    ("export_shards", "shard manifest: ONE hash aggregate on a uniform "
     "derived key (id-suffix mod 16) with map-side partial aggregation — "
     "the encode UDF feeds partials, so at 10^10 rows the exchange "
     "carries 16 rows per task, never data"),
    ("stream_sessionization", "native session_window: one exchange on "
     "user_id, sessions merged inside the aggregate (no self-join, no "
     "per-user collect); the same operator runs streaming with a "
     "watermark"),
    ("image_tiles", "tile/patch fan-out is map-only: scan → one "
     "ArrowEvalPython(mapInPandas) stage, zero exchanges — output rows "
     "(16× input) are produced executor-side and inherit the scan "
     "partitioning"),
    ("graph_pagerank", "the dumped plan is a Sort+Project over a "
     "checkpointed LogicalRDD — which IS the scale property: "
     "localCheckpoint truncates lineage each iteration so iteration N's "
     "plan depth is O(1), not O(N).  Per-iteration shape (ops/graph.py): "
     "contribs = edges ⋈ ranks ⋈ degree then ONE groupBy(dst) exchange; "
     "the dangling mass rides a broadcast of a 1-row aggregate — no "
     "collect anywhere"),
    ("multimodal_quality", "the training-set admission gate is map-only: "
     "scan → JVM-side corruption-injection projection → ONE "
     "ArrowEvalPython(mapInPandas) stage, zero exchanges before the "
     "final order — bytes never shuffle, the keep decision travels as "
     "a boolean (late materialization); the only sort is the contract's "
     "ORDER BY"),
    ("sample_split", "deterministic stratified split: the md5-uniform and "
     "threshold cascade are ONE WholeStageCodegen projection over the "
     "scan — zero exchanges, zero Python; at 100 TB the split is free "
     "riding any existing pass"),
    ("sample_domain_cap", "per-domain frequency cap: Spark 4 plans a "
     "map-side WindowGroupLimit (partial top-k per input partition) "
     "BEFORE the single hash exchange on the group key — a skewed "
     "mega-domain ships at most cap rows per map partition into the "
     "shuffle, never its full row set"),
    ("payload_phash_xformat", "cross-format phash: encode→decode→dHash is "
     "one map-only Arrow stage; the anchor side is a BroadcastHashJoin "
     "(one row per source) and hamming is bit_count(xor) inside "
     "WholeStageCodegen — the variant scan never shuffles"),
    ("multimodal_audio_meta", "compressed-audio container scan: JVM-side "
     "corruption projection (binary substring/concat) feeding ONE "
     "ArrowEvalPython(mapInPandas) stage, zero exchanges before the "
     "contract ORDER BY — header-bound walk, payload bytes never "
     "shuffle"),
    ("sketch_hll", "HLL register build is Expand → partial HashAggregate "
     "→ Exchange → final HashAggregate: the sketch merges map-side, so "
     "the exchange carries at most 2^p register rows per group per task "
     "regardless of input size — the whole point vs an exact "
     "count(distinct) shuffle of every key; the tiny estimate frames "
     "join back as BroadcastExchanges"),
    ("sketch_cms", "count-min counters: Generate (the d-cell explode) "
     "feeding partial→final HashAggregate — map-side combine caps every "
     "task's output at d×w counter rows; the probe side is a "
     "BroadcastHashJoin (the whole sketch is d×w rows) over a "
     "TakeOrderedAndProject top-k, zero wide shuffles"),
    ("sample_weighted", "A-ES weighted sampling: WindowGroupLimit appears "
     "BEFORE the exchange (map-side partial top-k) and again after — "
     "each task ships only k candidate rows per group, the reservoir-"
     "merge property, so the shuffle volume is k×tasks at any input "
     "size; the key ln(u)/w is pure codegen"),
    ("temporal_asof", "as-of join as union + ONE keyed Exchange + Window "
     "carry-forward: no join operator at all, so no per-key cross "
     "product — row count through the shuffle is exactly |left|+|right|, "
     "and last(ignorenulls) runs inside the single window pass"),
    ("ann_pq", "PQ-ADC query: Scan → ArrowEvalPython (the batched encode) "
     "→ Project of element_at over literal lookup arrays → "
     "TakeOrderedAndProject.  With a prebuilt code table "
     "(build_pq_index) even the Python stage disappears — the scan side "
     "reads 16 bytes/vector instead of 512.  The Exchange under the UDF "
     "is spread()'s tiny-input fan-out; no-op over a real parquet scan"),
    ("embed_kmeans", "k-means assignment is a pure-codegen Project "
     "(zip_with/aggregate against literal centroid arrays — no UDF, no "
     "join), and each update is ONE map-side-combined HashAggregate "
     "with D sum columns; the driver never holds more than k×(D+1) "
     "integers, and every number that crosses an exchange is an exact "
     "bigint, which is what makes the result engine-independent"),
    ("dedup_incremental", "ingest-time near-dup: the batch's banded rows "
     "equi-join the PREBUILT corpus index (InMemoryTableScan — built "
     "once, at scale an Iceberg table partition-pruned by bucket), then "
     "exact-Jaccard verification touches only candidate-hit corpus rows "
     "via a broadcast semi-join — corpus text is never rescanned"),
    ("store_changelog", "incremental read: the plan scans ONLY the data "
     "directories appended between the two snapshots (manifest diff "
     "happens driver-side before any job) — scan cost ∝ new data, "
     "never table size"),
    ("multimodal_exif", "EXIF extract + GPS scrub composes map-only Arrow "
     "stages over the build scan plus two aggregates joined back as "
     "broadcasts; downstream of the scrub, only md5/had_gps/tag rows "
     "cross exchanges (~60 bytes/image), never payload bytes.  The "
     "RoundRobin exchanges visible under each MapInPandas are spread()'s "
     "tiny-input fan-out — the contract fixture is an in-memory Range; "
     "over a real parquet scan spread() short-circuits to a no-op "
     "(ops/__init__.py), so at 100 TB those exchanges don't exist"),
    ("image_aspect_buckets", "aspect bucketing: the per-image argmin over "
     "the 7 pinned buckets is ONE codegen Project (array_min over "
     "(dist, bucket_id) structs — no per-image Window, no join on the "
     "big side), the scan reads only (image_id, w, h) with the binary "
     "column pruned, and the only Exchange carries 7 partially-"
     "aggregated groups; the bucket dim joins AFTER the aggregate as a "
     "7-row broadcast"),
    ("store_merge", "MERGE INTO (upsert): the rewrite (already executed "
     "inside store.merge by the time this read plan prints) is ONE "
     "left-anti hash join of the current table against the (distinct) "
     "update keys, unioned with the updates — no per-row compare, no "
     "window, and the join key is the merge key so AQE picks broadcast "
     "when the update batch is small (the common price-correction "
     "shape); Iceberg narrows the same scan to key-overlapping files, "
     "same logical shape.  The plan below is the post-merge snapshot "
     "READ: a single clean parquet scan of the rewritten table — the "
     "point of copy-on-write is that readers pay nothing"),
    ("multimodal_resize", "training-shard resize: decode → mean-pool → "
     "re-encode → verify is ONE Arrow stage (single MapInPandas, no "
     "shuffle); bytes never cross an exchange — each task emits ~40 "
     "bytes of features per image, which is why the shard rewrite is "
     "scan-bound at 100 TB"),
    ("dedup_canonical", "end-to-end text dedup: LSH pair generation, "
     "connected components and quality ranking compose into ONE DAG — "
     "the component iteration reuses the banded exchange, the final "
     "keeper rank is one window over (cluster, quality); no all-pairs "
     "stage anywhere"),
    ("text_decontaminate", "benchmark n-grams are the BROADCAST build "
     "side — the corpus-side shingling is a native expression inside "
     "WholeStageCodegen feeding a BroadcastHashJoin, so the only "
     "exchange carries per-doc (id, hit) partial aggregates; corpus "
     "n-grams are never shuffled"),
    ("text_repetition", "all repetition signals INCLUDING the modal "
     "2-gram (array_sort + aggregate over the sorted array) are one "
     "codegen'd projection over the scan — ZERO exchanges; the "
     "explode→groupBy→window alternative would shuffle ~|tokens| rows"),
    ("text_bm25", "the broadcast query-term semi filter cuts the token "
     "explode before any aggregate; tf/df are partial-first hash "
     "aggregates; N/avgdl enter as a single-row broadcast cross join; "
     "ranking is one window over the (tiny) matched set"),
    ("pack_sequences", "exact global prefix sum WITHOUT a global "
     "window: ONE RangePartitioning exchange → Arrow-batched "
     "per-partition running sum (MapInPandas; a window partitioned by "
     "spark_partition_id would add a second, hash exchange) → "
     "persisted (InMemoryRelation, so the totals pass reuses it) → "
     "per-partition totals broadcast back; the only single-partition "
     "window is over the one-row-per-partition totals table"),
    ("image_blocklist", "banded phash probe: the 4-band explode of the "
     "curated blocklist is the BROADCAST build side; the corpus side "
     "is a map-only band projection + broadcast join + partial "
     "aggregate — the corpus is never self-joined and bytes never "
     "leave the scan (only (image_id, phash) is read)"),
    ("sample_mixture", "temperature mixing: the per-source stat/rate "
     "table is a tiny aggregate that rejoins as a BroadcastHashJoin — "
     "the corpus-side pass is one WholeStageCodegen projection (md5 "
     "uniform + compare), no corpus shuffle"),
    ("j6_salted_join", "manual skew remedy: Generate(explode) replicates "
     "the dim buckets-times and the join key becomes (key, salt) — the "
     "hot key's rows hash to `buckets` distinct reducers; the plan "
     "shows the salt never reaches the output projection"),
    ("text_chunk_dedup", "span-level exact dedup: the 10-token chunking "
     "is one codegen'd Project (sequence/transform/slice — no Python, "
     "no per-token explode); first-wins = ONE exchange on the span key "
     "(uniform by construction, cannot skew; zero-chunk docs ride "
     "through on per-row-unique null keys) feeding the window rank; "
     "reassembly aggregates the SAME frame — no docs-side re-join"),
    ("sample_shuffle", "deterministic epoch shuffle: ONE range "
     "exchange on the uniform md5 key (RangePartitioning in the plan) "
     "+ per-partition sort; ranks via order-preserving MapInPandas, "
     "offsets as a tiny per-partition aggregate broadcast back — no "
     "global single-partition window, no second corpus exchange"),
    ("text_bpe_tokens", "BPE corpus apply: the trained vocab "
     "broadcasts (BroadcastHashJoin) into the token explode — the "
     "corpus side is Generate + map-side partial aggregate; the only "
     "corpus-keyed exchange is the doc_id groupBy"),
    ("text_bpe", "distributed BPE: the only corpus-wide stage is the "
     "word-count hash aggregate (map-side partial combine); every merge "
     "iteration's pair explode + sum runs over the distinct-word table "
     "(|vocab| rows, corpus-size independent) and collects exactly ONE "
     "row; merge application is a codegen'd aggregate fold — no Python "
     "anywhere in the plan"),
]


def main() -> None:
    # self-explanation for the captured stderr (plans_err.log): the
    # handful of WindowExec "No Partition Defined" warnings below come
    # from DELIBERATE per-partition-offset windows (sampling.py
    # epoch_shuffle, text.py pack_sequences, crawler.py progress)
    # whose input is one row per PARTITION / per WAVE by construction
    # — a bounded few-row frame, not a corpus move; benign.
    print("NOTE: any 'WindowExec: No Partition Defined' WARNs below are the "
          "deliberate per-partition-OFFSET windows (one row per partition/"
          "wave by construction: sampling.py:~215, text.py:~405, crawler.py "
          "progress) — bounded frames, benign, no corpus ever moves to one "
          "partition.", file=sys.stderr)
    spark = get_spark(app_name="plans", master="local[4]", shuffle_partitions=4)
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    qs = em.queries()
    out = [
        "# PLANS — physical plans of representative queries",
        "",
        "Generated by `python scripts/dump_plans.py` (sf0.01). For each query:",
        "why this is the plan you want at 100 TB, then the `formatted` explain.",
        "",
    ]
    for name, why in PICKS:
        df = qs[name](spark, SF)
        plan = df._jdf.queryExecution().explainString(mode)
        out += [f"## {name}", "", f"**Scale property:** {why}", "", "```",
                plan.rstrip(), "```", ""]
    with open(os.path.join(REPO, "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
