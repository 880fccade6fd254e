"""Dataset-assembly sampling operators — all native Catalyst
expressions with exact ANSI-SQL oracles.

What a training-data pipeline does between "cleaned corpus" and
"training set":

* split_stratified — deterministic hash-based train/val/test split
  with PER-STRATUM fractions.  The assignment is a pure function of
  (id, salt): `xxhash64` → uniform [0,1) → threshold cascade.  No
  randomness, no state, no shuffle — reproducible across runs,
  cluster sizes and engines (the oracle recomputes it in DuckDB from
  the same md5-derived uniform), and rows can be re-derived later
  ("which split was doc X in?") without storing the split.
* domain_cap — frequency capping: keep at most `cap` rows per group
  (host/domain/source), choosing a DETERMINISTIC representative set
  (rank by a stable key).  The standard anti-memorization /
  anti-boilerplate step in web-scale corpus assembly (one domain must
  not dominate the mixture).  One hash-partitioned window — the
  single shuffle is on the cap key, exactly the partitioning the
  downstream per-domain mixture wants to inherit.

100 TB notes: both are one-pass.  split_stratified is map-only
(zero exchanges — the filter/threshold is a scan-level predicate and
survives pushdown).  domain_cap's window shuffles once on the group
key, and Spark 4 plans a map-side ``WindowGroupLimit`` (partial
top-k per input partition) BEFORE the exchange — so a skewed
mega-domain ships at most ``cap`` rows per map partition into the
shuffle, never its full row set (asserted on the physical plan in
tests/test_ops.py::test_sampling_ops).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# 2^63 as float — xxhash64 is signed; |h| / 2^63 ∈ [0, 1)
_HASH_SPAN = float(2 ** 63)


def _uniform(col, salt: str):
    """Deterministic uniform [0,1) from a value + salt.

    Uses md5 (not xxhash64) so the DuckDB oracle can recompute the
    IDENTICAL number: both engines agree on md5 bytes, and the first
    12 hex digits give a 48-bit integer exactly representable in a
    double on both sides."""
    h12 = F.substring(F.md5(F.concat(col.cast("string"), F.lit(salt))), 1, 12)
    return F.conv(h12, 16, 10).cast("double") / F.lit(float(16 ** 12))


def split_stratified(df: DataFrame, id_col: str, stratum_col: str,
                     fractions: dict[str, tuple[float, float]],
                     salt: str = "split-v1",
                     default: tuple[float, float] = (0.01, 0.01)) -> DataFrame:
    """Assign each row to train/val/test, deterministically, with
    per-stratum val/test fractions.

    ``fractions`` maps stratum value → (val_frac, test_frac); strata
    not listed use ``default``.  u = uniform(id, salt); the row is
    'val' when u < val_frac, 'test' when u < val_frac+test_frac, else
    'train'.  Changing the salt re-deals every assignment; adding new
    rows never moves existing ones (pure function of id)."""
    u = _uniform(F.col(id_col), salt)
    val_f = F.lit(None).cast("double")
    test_f = F.lit(None).cast("double")
    # literal-folded threshold cascade: strata are a handful of values
    for stratum, (vf, tf) in fractions.items():
        cond = F.col(stratum_col) == stratum
        val_f = F.when(cond, F.lit(vf)).otherwise(val_f)
        test_f = F.when(cond, F.lit(tf)).otherwise(test_f)
    val_f = F.coalesce(val_f, F.lit(default[0]))
    test_f = F.coalesce(test_f, F.lit(default[1]))
    split = (F.when(u < val_f, F.lit("val"))
             .when(u < val_f + test_f, F.lit("test"))
             .otherwise(F.lit("train")))
    return df.withColumn("u", u).withColumn("split", split)


def weighted_sample(df: DataFrame, weight_col: str, k: int,
                    id_col: str = "doc_id", salt: str = "wsample-v1",
                    group_cols: tuple = ()) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis
    A-ES), deterministic: each row gets key = ln(u)/w with the
    md5-derived uniform u — order-equivalent to the classic u^(1/w)
    (ln is monotonic, ln(u)<0, larger w pulls the key toward 0) but
    with far better double spread than keys crowding 1.  The k largest
    keys are the sample; inclusion probability ∝ weight.

    Plan shape: map-only key computation + TakeOrderedAndProject
    (grouped: row_number ≤ k, which Spark 4 plans with a map-side
    WindowGroupLimit) — each task keeps its local top-k before the
    single reduce, which is exactly A-ES's reservoir-merge property,
    so the shuffle carries k rows per task at any input size.
    Deterministic: re-runs and engines agree (the oracle recomputes
    the identical key), and adding rows never reshuffles which keys
    existing rows drew (pure function of id × salt)."""
    u = _uniform(F.col(id_col), salt)
    key = F.log(u) / F.col(weight_col)
    out = df.withColumn("skey", key)
    if group_cols:
        w = Window.partitionBy(*group_cols).orderBy(
            F.col("skey").desc(), F.col(id_col))
        return (out.withColumn("rnk", F.row_number().over(w))
                   .filter(F.col("rnk") <= k))
    return out.orderBy(F.col("skey").desc(), F.col(id_col)).limit(k)


def domain_cap(df: DataFrame, group_col: str, order_col: str,
               cap: int) -> DataFrame:
    """Keep at most ``cap`` rows per group, deterministically: rank by
    ``order_col`` (a stable key — quality score, timestamp, id) inside
    each group and keep rank ≤ cap.  Output carries ``grp_rank`` so
    downstream mixtures can sub-sample further without re-windowing."""
    w = Window.partitionBy(group_col).orderBy(F.col(order_col), F.col(group_col))
    return (df.withColumn("grp_rank", F.row_number().over(w))
              .filter(F.col("grp_rank") <= cap))


def mixture_sample(df: DataFrame, group_col: str, id_col: str,
                   size_col: str | None = None, alpha: float = 0.5,
                   target: int = 200, salt: str = "mix") -> DataFrame:
    """Temperature-based source mixing — the LLM-pretraining data-mix
    step (multinomial sampling with exponent ``alpha``, the
    mBERT/XLM-R recipe): a source's share of the sample is
    ``w_s^alpha / Σ w_t^alpha`` where ``w_s`` is its total ``size_col``
    (row count when None), flattening the head and boosting the tail
    as alpha → 0.

    Per-source sampling rate = min(1, target·q_s / n_s); per-row
    selection is the deterministic md5 uniform (``_uniform``) against
    that rate, so re-runs, engines, and incremental extensions agree
    row-for-row.  Returns every row with (rate, selected) — callers
    filter; keeping the flag makes the decision auditable.

    100 TB shape: one map-side-combined groupBy builds the per-source
    stat table (|sources| rows — thousands at worst), the rate formula
    is computed ON that tiny table, and it rejoins as a BROADCAST; the
    corpus-side pass is map-only (hash + compare).  No corpus shuffle,
    no driver loop; the sample never materializes centrally."""
    w_s = (F.sum(size_col) if size_col else F.count(F.lit(1))).cast("double")
    stats = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("double").alias("_n"), w_s.alias("_w"))
    tot = stats.agg(F.sum(F.pow("_w", F.lit(alpha))).alias("_z"))
    rates = (
        stats.crossJoin(F.broadcast(tot))
        .withColumn("_q", F.pow("_w", F.lit(alpha)) / F.col("_z"))
        .withColumn("_rate", F.least(F.lit(1.0), F.lit(float(target)) * F.col("_q") / F.col("_n")))
        .select(group_col, "_rate")
    )
    u = _uniform(F.col(id_col), salt)
    return (
        df.join(F.broadcast(rates), group_col)
        .select(
            id_col, group_col,
            F.round("_rate", 6).alias("rate"),
            (u < F.col("_rate")).cast("int").alias("selected"),
        )
    )


# spool directories created by epoch_shuffle, released by
# purge_epoch_spools() (and best-effort at interpreter exit)
_EPOCH_SPOOLS: list[str] = []


def purge_epoch_spools() -> int:
    """Delete every spool directory epoch_shuffle has written in this
    process — call between epochs once the export is materialized.
    Returns the number of directories removed."""
    import shutil

    n = 0
    while _EPOCH_SPOOLS:
        d = _EPOCH_SPOOLS.pop()
        shutil.rmtree(d, ignore_errors=True)
        n += 1
    return n


def _register_epoch_spool(d: str) -> None:
    if not _EPOCH_SPOOLS:
        import atexit

        atexit.register(purge_epoch_spools)
    _EPOCH_SPOOLS.append(d)


def epoch_shuffle(df: DataFrame, id_col: str = "doc_id",
                  salt: str = "epoch0", n_shards: int = 8,
                  scratch_dir: str | None = None) -> DataFrame:
    """Deterministic global training shuffle: a reproducible
    permutation of the corpus (the step between "assembled dataset"
    and "epoch export" — every trainer consumes the data in a shuffled
    order that must be identical across reruns and cluster sizes).

    Each row's sort key is md5(id ‖ salt) — a pure function of the
    row, so the permutation is engine- and partitioning-independent;
    changing ``salt`` re-deals the epoch.  Returns ``(id, pos,
    shard)``: ``pos`` the global 0-based position in shuffled order,
    ``shard`` = pos mod n_shards (round-robin over shuffled order, so
    every shard is an unbiased sample AND shard sizes differ by ≤1).

    100 TB shape: the total order is ONE range exchange on the md5
    key (uniform by construction — range bounds from Spark's sampling
    cannot skew) + per-partition sort; the global position is the
    same two-phase distributed cumsum as ``text.pack_sequences`` —
    per-partition ranks from an Arrow batch counter (order-preserving
    mapInPandas; no global single-partition window, and no second
    corpus exchange) plus broadcast per-partition row-count offsets.  Oracle: DuckDB's ``row_number() OVER (ORDER
    BY md5(...), id)`` recomputes the identical permutation.

    The ranked intermediate feeds BOTH the offsets subtree and the
    final join, and the two consumers MUST see one materialization
    (two executions of the range exchange can sample different
    partitioner boundaries, making ``_off`` inconsistent with the
    joined rows).  It is pinned by an EAGER spool write (narrow
    3-column parquet — the md5 key is dropped after ranking) rather
    than ``persist()`` — a cached frame would outlive the call with
    no owner to release it (the round-3 advisory's leak: Spark's
    CacheManager holds plan-keyed entries until an explicit
    unpersist).  Spool lifecycle (the side-effect contract): every
    returned frame stays readable until its spool is released — by
    ``purge_epoch_spools()`` once the caller has consumed the epochs
    it holds, or by the best-effort atexit purge.  A call never
    deletes the spool behind a frame an earlier call returned.

    ``scratch_dir`` must be CLUSTER-VISIBLE storage on a multi-node
    deployment (the warehouse scratch, S3/HDFS) — executors write the
    spool and the driver-side plan reads it back.  The single-node
    default (a driver-local temp dir, first ``spark.local.dir`` entry
    when set) is exactly the sandbox's shared filesystem.  The
    function is therefore EAGER: the exchange runs at call time, the
    returned frame reads the spool.
    """
    import os
    import tempfile

    id_type = dict(df.dtypes)[id_col]
    key = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    d = (
        df.select(F.col(id_col), key.alias("_key"))
        .repartitionByRange(F.col("_key"), F.col(id_col))
        .sortWithinPartitions("_key", id_col)
        .withColumn("_pid", F.spark_partition_id())
    )

    # partition-local 1-based rank via an Arrow batch counter — NOT a
    # Window.partitionBy(_pid), which would re-exchange the whole
    # corpus on _pid (the rows are already range-partitioned + sorted).
    # _key is consumed by the ordering and DROPPED here: spooling the
    # 32-char md5 would inflate the write+read for nothing.
    def ranker(iterator):
        run = 0
        for pdf in iterator:
            n = len(pdf)
            yield pdf.drop(columns=["_key"]).assign(
                _rank=range(run + 1, run + n + 1))
            run += n

    if scratch_dir is None:
        # spark.local.dir may be a comma list of per-disk roots; any
        # single entry works for a driver-local spool
        local_dir = (df.sparkSession.conf.get("spark.local.dir", None)
                     or "").split(",")[0].strip() or None
        scratch_dir = local_dir
    if scratch_dir is not None:
        # spark.local.dir names a root Spark itself may never create
        # (SPARK_LOCAL_DIRS overrides it) — mkdtemp needs it to exist
        os.makedirs(scratch_dir, exist_ok=True)
    spool = tempfile.mkdtemp(prefix="epoch_shuffle_", dir=scratch_dir)
    _register_epoch_spool(spool)
    d.mapInPandas(
        ranker, f"{id_col} {id_type}, _pid int, _rank long"
    ).write.mode("overwrite").parquet(spool)
    local = df.sparkSession.read.parquet(spool)
    counts = local.groupBy("_pid").agg(F.max("_rank").alias("_n"))
    w_off = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_n").over(w_off), F.lit(0)))
    pos = (F.col("_off") + F.col("_rank") - 1).cast("long")
    return (
        local.join(F.broadcast(offsets.select("_pid", "_off")), "_pid")
        .select(
            id_col,
            pos.alias("pos"),
            (pos % n_shards).cast("int").alias("shard"),
        )
    )
