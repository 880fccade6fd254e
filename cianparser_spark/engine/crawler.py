"""Wave-scheduled distributed crawl engine.

Executes the reference's sequential crawl semantics
(reference: cianparser/cianparser.py:60-90) as driver-orchestrated
micro-batch waves over snapshot-committed tables:

  frontier scan → politeness budget selection (salted two-phase
  groupBy-host — kills the single-domain skew) → fused fetch+parse
  (mapInPandas, Arrow) → per-seed ordered finalization (watermarks)
  → first-wins dedup (window + Bloom-prefiltered anti-join vs seen)
  → detail enqueue / offer emission → metrics + lineage → one atomic
  commit per wave.

Ordering correctness under parallelism (the hard part): pages of one
seed may be fetched optimistically out of order, but cards only claim
the seen-set once every earlier page of their seed is *resolved*
(parsed, dead-lettered, or cancelled) — the per-seed watermark.  This
reproduces the reference's first-wins-by-crawl-order dedup bit-for-bit
without serializing fetches.

Politeness: the reference sleeps 2 s per list page and 4 s per detail
(reference: flat/list.py:41,64); here a host serves at most
``host_tokens`` per wave, a list fetch costs 1 token and a detail
costs 2, and an HTTP 429 charges a 5-token debt to the host's next
wave (the 10 s penalty, cianparser/cianparser.py:54-55).  Selection is
two-phase so one dominant host cannot skew a single partition: a
salted window pre-selects ≤ budget per (host, salt), then the exact
per-host rank runs over that much smaller survivor set.

Driver economy (scale + wall-clock): exactly TWO small collects per
wave — the politeness/selection stats and the page-outcome stats — and
everything the driver decides (captcha stops, retries, 429 debt,
watermarks, metrics, lineage, which tables are even non-empty) derives
from them.  Collected rows are O(pages-per-wave), bounded by the
politeness budget, never O(cards).  Empty tables are never written;
Bloom blobs, stop map, and host debt live in driver memory and are
rebuilt from the committed snapshot on resume.
"""

from __future__ import annotations

import json
import os
import shutil

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cianparser_spark.corpus import webgen
from cianparser_spark.engine import columnar, model, seenidx
from cianparser_spark.engine.bloom import BloomFilter
from cianparser_spark.engine.stage import make_fetch_parse
from cianparser_spark.engine.store import WaveStore
from cianparser_spark.semantics import robots
from cianparser_spark.semantics.simulator import CrawlSeed

MAX_ATTEMPTS = 3  # (reference: cianparser/cianparser.py:73)
_BLOOM_BITS = 1 << 20  # per-bucket fixed size so blobs OR-merge
# auto bloom_spool: filter state above this stays off the driver
_BLOOM_DRIVER_MAX_BYTES = 64 << 20
_429_DEBT = 5  # 10 s penalty / 2 s-per-list-token
_DETAIL_COST = 2  # tokens per detail fetch (4 s / 2 s-per-list-token)
_SALT_BUCKETS = 4  # per-host salts of the two-phase selection
# Adaptive execution mode: waves whose estimated stage-row volume
# (pages × ~32 cards) falls below this floor run with whole-stage
# codegen and generated-class factories DISABLED.  For a
# politeness-bounded tiny wave the per-execution cost of codegen —
# regenerating the widen battery's source text, janino compilation on
# cache miss (wave/seed literals differ between plans), class loading
# — is 10-100× the interpreted execution time of the handful of pages
# involved; measured on the fault-crawl suite this floor cuts wave
# wall ~30%.  Big waves (any real crawl at scale) keep codegen: the
# battery's compiled form wins from ~10^4 rows up.
_CODEGEN_ROW_FLOOR = 16_384


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        run_dir: str,
        seeds: list[CrawlSeed],
        web_cfg: webgen.WebConfig = webgen.DEFAULT_CONFIG,
        host_tokens: int = 64,
        bloom_buckets: int = 16,
        dedup_broadcast_rows: int = 100_000,
        respect_robots: bool = True,
        verbose: bool = False,
        dedup_strategy: str = "auto",
        bloom_bits: int = _BLOOM_BITS,
        bloom_spool: bool | None = None,
        ledger_spill_rows: int = 50_000,
    ):
        if dedup_strategy not in ("auto", "map_only", "shuffle"):
            raise ValueError(f"unknown dedup_strategy: {dedup_strategy!r}")
        self.dedup_strategy = dedup_strategy
        self._cg_saved: tuple | None = None
        self.spark = spark
        self.seeds = seeds
        self.web_cfg = web_cfg
        self.host_tokens = host_tokens
        self.bloom_buckets = bloom_buckets
        self.bloom_bits = int(bloom_bits)
        # SPOOL sidecar mode (the 10^10-URL shape): when the filter
        # state outgrows what the driver should hold, blobs live ONLY
        # in the store's bloom table — built and OR-merged executor-
        # side (one applyInPandas stage), probed via a per-executor
        # loader that reads the committed blob files directly
        # (bloom.load_spool_filters).  The driver never materializes a
        # blob byte and task closures carry only a path tuple, so
        # per-wave driver time and task-launch cost stay FLAT as the
        # filter grows.  Default mode (small fixed blobs) keeps the
        # driver merge + sc.broadcast probe — cheaper per wave at
        # politeness-bounded scale.
        if bloom_spool is None:
            bloom_spool = (self.bloom_buckets * self.bloom_bits) // 8 \
                > _BLOOM_DRIVER_MAX_BYTES
        self.bloom_spool = bool(bloom_spool)
        # exact-tier sidecar: full rebuild (replace) past this many
        # committed run dirs — bounds the probe's per-run cost on long
        # crawls (see _seenx_update)
        self.seenx_compact_dirs = 64
        # parked/paused detail-ledger entries above this spill to a
        # store table instead of growing the driver dicts (see
        # _detail_ledger) — the enforced bound on driver-held state
        self.ledger_spill_rows = int(ledger_spill_rows)
        self.dedup_broadcast_rows = dedup_broadcast_rows
        self.verbose = verbose
        self._t0 = 0.0
        self.runtimes = {s.seed_id: model.seed_runtime(s) for s in seeds}
        # robots.txt fetched ONCE per host at plan time (the real
        # deployment's GET /robots.txt); at many-host scale this dict
        # becomes a broadcast (host, prefix) dim table — here rules are
        # config-uniform so the flattened prefix tuple suffices
        self.robots_prefixes: tuple = ()
        if respect_robots:
            hosts = {rt["template"].split("/")[2] for rt in self.runtimes.values()}
            prefs: set = set()
            for h in sorted(hosts):
                prefs |= set(robots.parse_robots(webgen.robots_txt(h, web_cfg)))
            self.robots_prefixes = tuple(sorted(prefs))
        self.store = WaveStore(spark, run_dir, model.TABLE_SCHEMAS, model.REPLACE_TABLES)
        self._dim = None  # literal-cols dict (bounded seeds) | dim DataFrame
        # driver-cached state, rebuilt from the snapshot on resume
        self._stopped: dict[int, int] | None = None
        self._debt: dict[str, int] = {}
        self._bloom: dict[int, BloomFilter] | None = None
        # broadcast handle for the driver-held blobs + its generation:
        # refreshed (old handle destroyed) only when the sidecar
        # actually changed, so the blobs ship to executors at most once
        # per wave via torrent broadcast, never via task closures
        self._bloom_gen = 0
        self._bloom_bc: tuple[int, object] | None = None
        # spool-mode emptiness flag (the blobs themselves stay on disk)
        self._bloom_nonempty: bool | None = None
        # exact-tier sidecar (sorted string runs, spool mode only):
        # None = completeness not yet checked against the manifest
        self._seenx_ok: bool | None = None
        self._seen_nonempty: bool | None = None
        self._staged_nonempty: bool | None = None
        self._next_pending: int | None = None
        self.respect_robots = respect_robots
        # page-coupled detail scheduler state (detail-mode seeds only):
        # paused group walks keyed (seed_id, page_number) and the list
        # pages' retry-burn counters that seed each group's budget —
        # both bounded by the fault/duplicate rate, not crawl size
        self._paused: dict[tuple[int, int], dict] | None = None
        self._paused_dirty = False
        self._page_burn: dict[tuple[int, int], int] = {}
        # placeholders inside DISPATCHED (in-frontier, not yet run)
        # groups: (seed_id, page) -> duplicate keys parked there.  A
        # dead key must not resurrect at a LATER occurrence while an
        # earlier parked duplicate exists — this registry plus the
        # paused rests give the full parked set.  Every group holding a
        # non-local placeholder necessarily produces a pause/dead
        # marker (the kernel cannot resolve foreign winners), so
        # entries are removed exactly when the marker arrives.
        self._parked_disp: dict[tuple[int, int], set] = {}
        # derive mode (ENFORCED ledger bound): when _parked_disp
        # outgrows ledger_spill_rows it spills once into the store's
        # "parkreg" table and every later consultation runs as
        # DataFrame ops — see model.PARKREG_SCHEMA.  Per-wave driver
        # deltas stay bounded by the politeness budget (markers arrive
        # only for groups that RAN).
        self._parked_derive: bool = False
        self._parked_removed: set[tuple[int, int]] = set()  # this wave's pops
        self._parked_readds: list[tuple] = []   # (_resolve_paused re-adds)
        self._parked_add_df: DataFrame | None = None  # this wave's additions
        self._parked_spill_rows: list[tuple] | None = None  # transition wave
        self._ks_nonempty: bool = False
        self._seeds_df: DataFrame | None = None
        # running seen-table row count (upper bound): small-seen waves
        # skip the Bloom prefilter's pandas_udf launch in _dedup — the
        # exact anti-join alone is cheaper until seen outgrows it.
        # None = unknown (resumed store) → always take the Bloom path.
        self._seen_rows: int | None = None

    def _seed_dim(self):
        """Literal per-seed constant columns for bounded seed lists
        (zero jobs/wave), a broadcastable dim DataFrame otherwise."""
        if self._dim is None:
            self._dim = (columnar.seed_dim_cols(self.runtimes)
                         or columnar.seed_dim(self.spark, self.runtimes))
        return self._dim

    # --------------------------------------------- adaptive execution mode

    _CG_CONFS = ("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode",
                 "spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")

    def _set_exec_mode(self, est_rows: int) -> None:
        """Pick compiled vs interpreted execution for this wave's plans
        (see ``_CODEGEN_ROW_FLOOR``).  Interpreted mode skips source
        generation + janino + class loading for every plan the wave
        builds — pure win when the wave moves a few hundred rows.

        Tiny waves also turn AQE off and shrink the shuffle-partition
        target: AQE re-plans every tiny groupBy as a chain of extra
        scheduler jobs (~20 jobs/wave on the fault crawl, the dominant
        per-wave fixed cost at toy scale — same finding as
        ops.text.bpe_train's merge loop), and a politeness-bounded
        wave's exchanges move a few hundred rows where the session
        default would schedule 32 near-empty tasks each.  Big waves
        (any real crawl at scale) keep AQE and the session target —
        this mode never triggers there, so the 10^10 path is
        untouched.  Plan results are partitioning-independent (the
        engine orders explicitly everywhere), pinned by the bit-match
        suite + fuzz either way."""
        if est_rows >= _CODEGEN_ROW_FLOOR:
            self._restore_exec_mode()  # a big wave after a small one
            return
        conf = self.spark.conf
        if self._cg_saved is None:
            self._cg_saved = tuple(conf.get(k, None) for k in self._CG_CONFS)
        conf.set(self._CG_CONFS[0], "false")
        conf.set(self._CG_CONFS[1], "NO_CODEGEN")
        conf.set(self._CG_CONFS[2], "false")
        conf.set(self._CG_CONFS[3], "4")

    def _restore_exec_mode(self) -> None:
        if self._cg_saved is None:
            return
        for k, v in zip(self._CG_CONFS, self._cg_saved):
            if v is None:
                self.spark.conf.unset(k)
            else:
                self.spark.conf.set(k, v)
        self._cg_saved = None

    def _tick(self, label: str) -> None:
        if self.verbose:
            import time

            now = time.time()
            if self._t0:
                print(f"    [{label}] +{now - self._t0:.2f}s", flush=True)
            self._t0 = now

    # ------------------------------------------------------------ seeding

    def _initial_frontier(self) -> DataFrame:
        """All list-page rows for every seed — the frontier generates
        only pages in [start, end] (limit pushdown at generation,
        reference: cianparser/base_list.py:27-28).  Page expansion runs
        JVM-side (``explode(sequence(...))``): the driver ships one row
        per SEED, so seeding 10^6-seed frontiers never serializes page
        rows through the driver."""
        rows = []
        total = 0
        for s in self.seeds:
            rt = self.runtimes[s.seed_id]
            prefix, suffix = rt["template"].split("{}", 1)
            host = rt["template"].split("/")[2]
            rows.append((s.seed_id, prefix, suffix, host, rt["start_page"], rt["end_page"]))
            total += rt["end_page"] - rt["start_page"] + 1
        self._next_pending = total
        seeds_df = self.spark.createDataFrame(
            rows, "seed_id long, prefix string, suffix string, host string, start long, end long"
        )
        return seeds_df.select(
            "seed_id", "prefix", "suffix", "host",
            F.explode(F.sequence("start", "end")).alias("page_number"),
        ).select(
            F.concat("prefix", F.col("page_number").cast("string"), "suffix").alias("url"),
            F.lit("list").alias("kind"),
            "host",
            F.lit(None).cast("string").alias("card_json"),
            "seed_id",
            "page_number",
            F.lit(-1).cast("long").alias("card_index"),
            F.lit(0).cast("long").alias("attempt"),
            F.lit(1).cast("long").alias("wave"),
        ).repartition(self.spark.sparkContext.defaultParallelism)

    # ------------------------------------------------------- resume state

    def _load_state(self) -> None:
        """Rebuild driver caches from the last committed snapshot."""
        if self._stopped is None:
            self._stopped = {
                int(r["seed_id"]): int(r["captcha_page"])
                for r in self.store.read("stopped").collect()
            }
        if self.bloom_spool:
            if self._bloom_nonempty is None:
                self._bloom_nonempty = bool(self.store.table_paths("bloom"))
            self._bloom = {}
        elif self._bloom is None:
            self._bloom = {
                int(r["bucket"]): BloomFilter.from_bytes(bytes(r["blob"]))
                for r in self.store.read("bloom").collect()
            }
            self._bloom_gen += 1
        if self._seen_nonempty is None:
            self._seen_nonempty = self.store.read("seen").limit(1).count() > 0
        if self._paused is None:
            self._paused = {
                (int(r["seed_id"]), int(r["page_number"])): {
                    "b": int(r["budget"]), "blocker": r["blocker"],
                    "rest": json.loads(r["rest"]),
                }
                for r in self.store.read("paused").collect()
            }
            # rebuild list-page burn counters from scheduled retries:
            # a page's burn = the attempt of its LAST scheduled fetch
            # (= failures before success), exactly the budget the
            # reference's exception counter carries into the card walk
            if any(rt["with_extra"] for rt in self.runtimes.values()) \
                    and self.store.last_wave() > 0:
                self._page_burn = {
                    (int(r["seed_id"]), int(r["page_number"])): int(r["mx"])
                    for r in self.store.read("frontier")
                    .filter((F.col("kind") == "list") & (F.col("attempt") > 0))
                    .groupBy("seed_id", "page_number")
                    .agg(F.max("attempt").alias("mx"))
                    .collect()
                }
                self._ks_nonempty = (
                    self.store.read("keystate").limit(1).count() > 0)
                self._paused_dirty = bool(self._paused)
                # dispatched-group placeholder registry.  A committed
                # "parkreg" table means the previous run had spilled —
                # resume straight in derive mode (the table IS the
                # registry; rebuilding the dict could immediately
                # re-violate the cap).  Otherwise derive the dict from
                # the pending wave's group rows (placeholders whose
                # winner is outside their own group), spilling if even
                # the rebuild breaches the cap.
                if self.store.table_paths("parkreg"):
                    self._parked_derive = True
                else:
                    nxt = self.store.last_wave() + 1
                    n_parked = 0
                    for r in (self.store.read("frontier")
                              .filter((F.col("kind") == "detail")
                                      & (F.col("wave") == nxt))
                              .select("seed_id", "page_number", "card_json")
                              .collect()):
                        g = json.loads(r["card_json"])
                        winners = {c["k"] for c in g["cards"] if not c.get("d")}
                        ph = {c["k"] for c in g["cards"] if c.get("d")} - winners
                        if ph:
                            self._parked_disp[
                                (int(r["seed_id"]), int(r["page_number"]))] = ph
                            n_parked += len(ph)
                    if n_parked > self.ledger_spill_rows:
                        self._spill_parked()
        if self._staged_nonempty is None:
            last = self.store.last_wave()
            self._staged_nonempty = (
                last > 0 and self.store.read("staged").limit(1).count() > 0
            )
            if last > 0:
                self._debt = {
                    r["host"]: int(r["n_429"]) * _429_DEBT
                    for r in self.store.read("metrics")
                    .filter(F.col("wave") == last)
                    .collect()
                    if r["n_429"]
                }

    # ---------------------------------------------------------- politeness

    def _select_budget(
        self, pending: DataFrame, debt: dict[str, int],
        blocked: "F.Column | None" = None,
    ) -> tuple[DataFrame, bool, int | None, int]:
        """Two-phase salted per-host token selection; adds bool
        ``_selected``.  Returns (marked, fully_selected, n_rows,
        n_blocked) where n_rows is the exact pending-row count when the
        fast path already aggregated it (None otherwise) and n_blocked
        counts robots-blocked rows (excluded from marked and from every
        token budget).  Deterministic priority: (page_number,
        detail-before-next-list, seed, card, url).

        Fast path: per-host token demand is a cheap aggregate
        (O(hosts) rows to the driver); every host whose whole demand
        fits its budget selects ALL its rows with no window at all —
        the serial exact-rank window only ever runs over the rows of
        genuinely over-budget hosts.  The robots count rides the SAME
        aggregate (``blocked`` is a pure expression), so the gate costs
        zero extra jobs."""
        # a 'detail' frontier row is one PAGE's detail group; its
        # card_index column carries the group's fetchable-card count,
        # so the group costs what its sequential card walk will fetch
        cost = F.when(
            F.col("kind") == "detail",
            F.lit(_DETAIL_COST) * F.greatest(F.col("card_index"), F.lit(1)),
        ).otherwise(F.lit(1))
        kind_rank = F.when(F.col("kind") == "detail", F.lit(0)).otherwise(F.lit(1))
        df = pending.withColumn("_cost", cost).withColumn("_krank", kind_rank)
        alive = F.lit(True) if blocked is None else ~blocked

        # ONE aggregate collects demand AND each host's first-priority
        # row key (the min-one progress guarantee's lookup) AND the
        # robots-blocked count — a second aggregate + broadcast build
        # would be an extra job per over-budget wave
        order_cols = ("page_number", "_krank", "seed_id", "card_index", "url")
        demand = df.groupBy("host").agg(
            F.sum(F.when(alive, F.col("_cost"))).alias("_dem"),
            F.count(F.when(alive, F.lit(1))).alias("_n"),
            F.min(F.when(alive, F.struct(*[F.col(c) for c in order_cols]))).alias("_fk"),
            F.count(F.when(~alive, F.lit(1))).alias("_nblk")).collect()
        n_blocked = sum(int(r["_nblk"]) for r in demand)
        if n_blocked:
            df = df.filter(alive)
        demand = [r for r in demand if int(r["_n"])]
        over = [
            r["host"] for r in demand
            if int(r["_dem"]) > max(0, self.host_tokens - debt.get(r["host"], 0))
        ]
        if not over:
            # the demand aggregate already counted every row, so the
            # caller needs NO second pass over the frontier (that count
            # was a full extra job on the wave's critical path)
            n_rows = sum(int(r["_n"]) for r in demand)
            return (df.withColumn("_selected", F.lit(True)).drop("_cost", "_krank"),
                    True, n_rows, n_blocked)
        over_set = set(over)
        first_rows = [(r["host"], *tuple(r["_fk"])) for r in demand
                      if r["host"] in over_set]
        if len(over) < len(demand):
            in_budget = df.filter(~F.col("host").isin(over)) \
                .withColumn("_selected", F.lit(True)).drop("_cost", "_krank")
            ranked = self._select_budget_windows(
                df.filter(F.col("host").isin(over)), debt, first_rows
            )
            return in_budget.unionByName(ranked), False, None, n_blocked
        return (self._select_budget_windows(df, debt, first_rows),
                False, None, n_blocked)

    def _select_budget_windows(self, df: DataFrame, debt: dict[str, int],
                               first_rows: list[tuple]) -> DataFrame:
        """Exact two-phase salted selection for over-budget hosts."""
        if debt:
            mapping = F.create_map(*[F.lit(x) for kv in debt.items() for x in kv])
            budget = F.lit(self.host_tokens) - F.coalesce(
                mapping[F.col("host")], F.lit(0)
            )
        else:
            budget = F.lit(self.host_tokens)
        df = df.withColumn("_budget", F.greatest(budget, F.lit(0)))

        order_cols = ("page_number", "_krank", "seed_id", "card_index", "url")
        order = [F.col(c) for c in order_cols]
        # min-one progress guarantee: a host's FIRST-priority row is
        # selected even when its cost alone exceeds the budget — a
        # detail GROUP's sequential page walk is atomic (cost =
        # 2 × cards), so without this a small token budget would defer
        # it forever.  The per-host first-row keys ride the demand
        # aggregate the caller already collected (``first_rows``), so
        # this is a broadcast join of driver rows, NOT a second
        # aggregate job (and NOT a global per-host window, which would
        # un-do the salting and sort every over-budget host's rows).
        row_key = F.concat_ws(
            "\x1f", F.col("host"), F.col("page_number"), F.col("_krank"),
            F.col("seed_id"), F.col("card_index"), F.col("url"))
        if len(first_rows) <= self._LIT_LOOKUP_MAX:
            first_keys = ["\x1f".join(str(x) for x in r) for r in first_rows]
            df = df.withColumn("_is_first", row_key.isin(first_keys))
        else:  # many over-budget hosts: broadcast-join fallback
            fdf = self.spark.createDataFrame(
                first_rows,
                "host string, _f_pn long, _f_kr int, _f_sid long, _f_ci long, _f_url string")
            df = df.join(F.broadcast(fdf), "host") \
                .withColumn(
                    "_is_first",
                    (F.col("page_number") == F.col("_f_pn"))
                    & (F.col("_krank") == F.col("_f_kr"))
                    & (F.col("seed_id") == F.col("_f_sid"))
                    & (F.col("card_index") == F.col("_f_ci"))
                    & (F.col("url") == F.col("_f_url"))) \
                .drop("_f_pn", "_f_kr", "_f_sid", "_f_ci", "_f_url")
        df = df.withColumn(
            "_salt", F.pmod(F.xxhash64("url", "seed_id"), F.lit(_SALT_BUCKETS))
        )
        w1 = Window.partitionBy("host", "_salt").orderBy(*order) \
            .rowsBetween(Window.unboundedPreceding, 0)
        df = df.withColumn("_cum1", F.sum("_cost").over(w1))
        force = F.col("_is_first") & (F.col("_budget") > 0)
        survivors = (F.col("_cum1") <= F.col("_budget")) | force  # ≤ salt × budget
        w2 = Window.partitionBy("host").orderBy(*order) \
            .rowsBetween(Window.unboundedPreceding, 0)
        df = df.withColumn(
            "_cum2",
            F.when(survivors, F.sum(F.when(survivors, F.col("_cost"))).over(w2)),
        )
        return df.withColumn(
            "_selected", (survivors & (F.col("_cum2") <= F.col("_budget"))) | force
        ).drop("_cost", "_krank", "_salt", "_cum1", "_cum2", "_budget", "_is_first")

    # ------------------------------------------------------------- robots

    def _robots_blocked_expr(self):
        """robots.txt Disallow rules as a pure boolean Column over the
        frontier — a native ``startswith`` prune over path+query, no
        fetch tokens consumed, no probe job (the blocked COUNT rides
        ``_select_budget``'s demand aggregate).  Blocked LIST pages
        dead-letter as kind='robots-list'.  Detail-group rows pass
        through untouched — a group's url is its list page's, and each
        card's detail URL is robots-checked inside the group walk
        (stage.py ``allowed``), where a blocked detail degrades to the
        reference's empty-page enrichment at its exact walk position
        (simulator.py:218-226)."""
        if not self.robots_prefixes:
            return None
        q = F.parse_url(F.col("url"), F.lit("QUERY"))
        pq = F.concat(
            F.parse_url(F.col("url"), F.lit("PATH")),
            F.when(q.isNotNull(), F.concat(F.lit("?"), q)).otherwise(F.lit("")),
        )
        cond = None
        for p in self.robots_prefixes:
            c = pq.startswith(F.lit(p))
            cond = c if cond is None else cond | c
        return (F.col("kind") == "list") & cond

    # ----------------------------------------- page-coupled detail ledger

    def _seed_template_cols(self):
        """(prefix, suffix, host) literal-map Columns keyed by seed_id,
        or None when the seed set exceeds the plan-literal threshold
        (caller broadcast-joins ``_seed_frontier_df`` instead)."""
        if len(self.runtimes) > self._LIT_LOOKUP_MAX:
            return None
        pre, suf, hst = {}, {}, {}
        for sid, rt in self.runtimes.items():
            p, s = rt["template"].split("{}", 1)
            pre[sid], suf[sid] = p, s
            hst[sid] = rt["template"].split("/")[2]
        key = F.col("seed_id")
        return (self._lit_map(pre, key, "string"),
                self._lit_map(suf, key, "string"),
                self._lit_map(hst, key, "string"))

    def _seed_frontier_df(self) -> DataFrame:
        if self._seeds_df is None:
            rows = []
            for sid, rt in self.runtimes.items():
                prefix, suffix = rt["template"].split("{}", 1)
                rows.append((sid, prefix, suffix, rt["template"].split("/")[2]))
            self._seeds_df = self.spark.createDataFrame(
                rows, "seed_id long, prefix string, suffix string, host string")
        return self._seeds_df

    def _detail_ledger(self, wave: int, ks_delta: list[tuple],
                       emitted_keys_df: DataFrame | None,
                       need_detail: DataFrame | None):
        """Reduce the detail-key ledger and build this wave's page
        groups (S2/D1-D3 dispatch under the reference's page-coupled
        retry semantics, cianparser.py:71-83).

        The ledger (``keystate``) holds ONE row per unresolved key —
        last-writer-wins by ``ver``; keys whose detail emitted resolve
        out via anti-join against ``seen`` (+ this wave's emissions).
        Each accepted card of a detail-mode seed is ranked within its
        (seed, key) group in crawl order: rank 1 with no live state =
        the winning occurrence (fetch at attempt 0); rank 1 over a
        ``dead`` key = a RESURRECTION carrying the key's consumed
        detail-URL attempt counter (the reference's session-global
        retry counter, simulator _fetch_counts); every other
        occurrence ships as a duplicate placeholder that the group
        walk skips (winner emitted) or pauses on (winner unresolved).
        One frontier row per page carries the ordered card array as
        JSON — the walk itself is sequential per page because the
        reference's budget coupling IS sequential per page; pages stay
        embarrassingly parallel, and at scale the ledger is bounded by
        the fault/duplicate rate, never by crawl size.

        Returns (groups_frontier_df | None, keystate_replace | None)."""
        ks_parts = []
        if self._ks_nonempty:
            ks_parts.append(self.store.read("keystate"))
        if ks_delta:
            ks_parts.append(self.spark.createDataFrame(
                ks_delta,
                "seed_id long, key string, url string, consumed long, state string, ver long"))
        ks_live = None
        if ks_parts:
            ks_all = ks_parts[0]
            for p in ks_parts[1:]:
                ks_all = ks_all.unionByName(p)
            ks_live = (
                ks_all.groupBy("seed_id", "key")
                .agg(F.max_by(F.struct("url", "consumed", "state", "ver"), "ver").alias("_s"))
                .select("seed_id", "key", "_s.url", "_s.consumed", "_s.state", "_s.ver")
            )
            # emitted keys leave the ledger (ledger is politeness-
            # bounded; the seen side is the whole corpus)
            if self._seen_nonempty:
                if self.bloom_spool and self._seenx_usable():
                    # 10^10 shape: sorted-run probe instead of an
                    # anti-join that would scan/shuffle the full seen
                    # table — same exact tier as _dedup's
                    sx = seenidx.seen_str_udf(
                        tuple(sorted(self.store.table_paths("seenx"))),
                        self.bloom_buckets)
                    ks_live = ks_live.filter(~sx(F.concat_ws(
                        "|", F.col("seed_id"), F.col("key"))))
                else:
                    ks_live = ks_live.join(
                        self.store.read("seen").select(
                            "seed_id", F.col("deal_url_id").alias("key")),
                        ["seed_id", "key"], "left_anti")
            if emitted_keys_df is not None:
                ks_live = ks_live.join(emitted_keys_df, ["seed_id", "key"], "left_anti")

        groups_df = None
        inflight_df = None
        if need_detail is not None:
            nob_ids = [sid for sid, rt in self.runtimes.items()
                       if rt["kind"] == "newobject"]
            # newobject detail URL = card url + "/" (newobject/list.py:77)
            durl = (
                F.when(F.col("seed_id").isin(nob_ids),
                       F.concat(F.col("url"), F.lit("/")))
                .otherwise(F.col("url")) if nob_ids else F.col("url")
            )
            j = (need_detail
                 .withColumn("_k", F.coalesce(F.col("deal_url_id"), F.lit("-1")))
                 .withColumn("_du", durl))
            if emitted_keys_df is not None:
                # a card whose key's detail EMITTED THIS WAVE (another
                # page's group walk, same wave as this card's list
                # fetch) is already-seen to the reference's sequential
                # walk (flat/list.py:57) — drop it before ranking, or
                # it would find the ledger empty (emitted keys resolve
                # out) and win a duplicate fetch.  The STORE's seen set
                # was applied upstream (_dedup's anti-join); this
                # closes the same-wave window.  Watermarked accept
                # order guarantees the emission precedes this card in
                # crawl order, so the drop is always first-wins-safe.
                j = j.join(
                    F.broadcast(emitted_keys_df.withColumnRenamed("key", "_k")),
                    ["seed_id", "_k"], "left_anti")
            if ks_live is not None:
                j = j.join(
                    F.broadcast(ks_live.select(
                        "seed_id", F.col("key").alias("_k"),
                        F.col("consumed").alias("_cons"),
                        F.col("state").alias("_st"))),
                    ["seed_id", "_k"], "left")
            else:
                j = j.withColumn("_cons", F.lit(None).cast("long")) \
                     .withColumn("_st", F.lit(None).cast("string"))
            # a dead key with an EARLIER parked duplicate (inside a
            # paused walk or a dispatched, not-yet-run group) must NOT
            # resurrect at a later occurrence — crawl order gives the
            # fetch to the earliest parked one (flat/list.py:57-67's
            # sequential walk).  Watermarked accept order guarantees
            # every parked occurrence precedes anything built here.
            paused_parked = sorted({
                (s, c["k"]) for (s, _pn), st in (self._paused or {}).items()
                for c in st["rest"] if c.get("d")})
            if self._parked_derive:
                # spilled registry: the blocked set is a DataFrame —
                # committed parkreg rows (minus this wave's resolved
                # pages) plus the paused rests (driver-held, budget-
                # bounded).  Plain join: the registry is backlog-
                # bounded, AQE broadcasts it while it fits.
                bdf = self._parked_view().select(
                    "seed_id", F.col("key").alias("_k"))
                if paused_parked:
                    bdf = bdf.unionByName(self.spark.createDataFrame(
                        list(paused_parked), "seed_id long, _k string"))
                bdf = bdf.distinct().withColumn("_blk", F.lit(True))
                j = j.join(bdf, ["seed_id", "_k"], "left")
            else:
                parked: set = set(paused_parked)
                for (s, _pn), keys in self._parked_disp.items():
                    parked.update((s, k) for k in keys)
                blocked = sorted(parked)
                if blocked and len(blocked) <= self._LIT_LOOKUP_MAX:
                    bkeys = [f"{s}\x1f{k}" for s, k in blocked]
                    j = j.withColumn(
                        "_blk",
                        F.when(F.concat_ws("\x1f", F.col("seed_id"), F.col("_k"))
                               .isin(bkeys), F.lit(True)))
                elif blocked:  # huge parked set: broadcast-join fallback
                    bdf = self.spark.createDataFrame(
                        list(blocked), "seed_id long, _k string") \
                        .withColumn("_blk", F.lit(True))
                    j = j.join(F.broadcast(bdf), ["seed_id", "_k"], "left")
                else:
                    j = j.withColumn("_blk", F.lit(None).cast("boolean"))
            w = Window.partitionBy("seed_id", "_k").orderBy("page_number", "card_index")
            j = (j.withColumn("_rk", F.row_number().over(w))
                 .withColumn("_win", (F.col("_rk") == 1)
                             & (F.col("_st").isNull()
                                | ((F.col("_st") == "dead")
                                   & F.col("_blk").isNull())))
                 .withColumn("_a0", F.when(F.col("_st") == "dead", F.col("_cons"))
                             .otherwise(F.lit(0))))
            card_j = F.to_json(F.struct(
                F.col("card_index").alias("i"), F.col("_k").alias("k"),
                F.col("_du").alias("u"),
                F.when(F.col("_win"), F.col("_a0")).otherwise(F.lit(0)).alias("a"),
                F.when(F.col("_win"), F.lit(0)).otherwise(F.lit(1)).alias("d"),
                F.struct(*model.OFFER_COLS).alias("cj")))
            grp = j.groupBy("seed_id", "page_number").agg(
                F.concat(
                    F.lit("["),
                    F.array_join(F.transform(F.array_sort(F.collect_list(
                        F.struct(F.col("card_index").alias("i"), card_j.alias("j")))),
                        lambda x: x["j"]), ","),
                    F.lit("]")).alias("_cards"),
                F.sum(F.when(F.col("_win"), 1).otherwise(0)).alias("_nf"))
            seed_cols = self._seed_template_cols()
            if seed_cols is not None:
                grp = grp.withColumn("prefix", seed_cols[0]) \
                    .withColumn("suffix", seed_cols[1]) \
                    .withColumn("host", seed_cols[2])
            else:  # many-seed fallback: broadcast dim join
                grp = grp.join(F.broadcast(self._seed_frontier_df()), "seed_id")
            burn_col = self._lit_map(
                {f"{sid}|{pn}": b for (sid, pn), b in self._page_burn.items()},
                F.concat_ws("|", F.col("seed_id"), F.col("page_number")), "long")
            if burn_col is None:
                burn_rows = [(sid, pn, b) for (sid, pn), b in self._page_burn.items()]
                burn_df = self.spark.createDataFrame(
                    burn_rows, "seed_id long, page_number long, _burn long")
                grp = grp.join(F.broadcast(burn_df), ["seed_id", "page_number"], "left")
            else:
                grp = grp.withColumn("_burn", burn_col)
            b = F.coalesce(F.col("_burn"), F.lit(0))
            groups_df = grp.select(
                F.concat("prefix", F.col("page_number").cast("string"),
                         "suffix").alias("url"),
                F.lit("detail").alias("kind"), F.col("host"),
                F.concat(F.lit('{"b":'), b.cast("string"), F.lit(',"cards":'),
                         F.col("_cards"), F.lit("}")).alias("card_json"),
                "seed_id", "page_number",
                F.col("_nf").cast("long").alias("card_index"),
                b.cast("long").alias("attempt"),
                F.lit(wave + 1).cast("long").alias("wave"))
            inflight_df = j.filter(F.col("_win")).select(
                "seed_id", F.col("_k").alias("key"), F.col("_du").alias("url"),
                F.coalesce(F.col("_a0"), F.lit(0)).alias("consumed"),
                F.lit("inflight").alias("state"),
                F.lit(2 * wave + 1).cast("long").alias("ver"))
            # register the dispatched groups' NON-LOCAL placeholders
            # (winner outside their own page): these block out-of-order
            # resurrection until the group's marker resolves them.
            # Collect is bounded by the wave's cross-page duplicate
            # count; the ENFORCED cap (ledger_spill_rows): when the
            # cumulative registry outgrows it, spill to the store's
            # parkreg table and keep additions as a DataFrame from
            # then on — driver memory stays capped at any backlog.
            wpg = F.max(F.when(F.col("_win"), F.col("page_number"))).over(
                Window.partitionBy("seed_id", "_k"))
            adds = (j.withColumn("_wpg", wpg)
                    .filter(~F.col("_win")
                            & (F.col("_wpg").isNull()
                               | (F.col("_wpg") != F.col("page_number"))))
                    .select(F.col("_k").alias("key"), "seed_id",
                            "page_number"))
            if self._parked_derive:
                # persisted: feeds parked_min (_resolve_paused) AND the
                # wave's parkreg replace without recomputing the rank
                self._parked_add_df = adds.persist()
            else:
                for r in adds.collect():
                    self._parked_disp.setdefault(
                        (int(r["seed_id"]), int(r["page_number"])),
                        set()).add(r["key"])
                if self._parked_size() > self.ledger_spill_rows:
                    self._spill_parked()

        ks_replace = None
        parts = [p for p in (ks_live, inflight_df) if p is not None]
        if parts:
            ks_replace = parts[0]
            for p in parts[1:]:
                ks_replace = ks_replace.unionByName(p)
            ks_replace = ks_replace.select(
                *[f.name for f in model.KEYSTATE_SCHEMA.fields])
        return groups_df, ks_replace

    def _resolve_paused(self, wave: int, ks_delta: list[tuple],
                        emitted_keys_df: DataFrame | None):
        """Advance paused group walks: drop placeholders whose winner
        emitted, resurrect leading placeholders whose key died
        elsewhere (earliest-page-first, preserving the reference's
        sequential claim order), and re-dispatch every walk whose
        leading card became decidable.  One tiny lookup job, bounded
        by the number of parked keys.

        Returns (continuations_frontier_df | None, ks_conversion_rows)."""
        if not self._paused:
            return None, []
        b_keys = sorted({(sid, c["k"])
                         for (sid, _pn), st in self._paused.items()
                         for c in st["rest"] if c.get("d")})
        emitted: set = set()
        ksmap: dict = {}
        if b_keys:
            # membership probes for a driver-held key list: filter the
            # big side on a literal isin instead of broadcasting a
            # createDataFrame of the keys — one fewer broadcast-build
            # job each, same rows back (b_keys is bounded by the parked
            # placeholder count, but keep the join fallback anyway)
            use_isin = len(b_keys) <= self._LIT_LOOKUP_MAX
            ckey = F.concat_ws("\x1f", F.col("seed_id"), F.col("key"))
            lits = [f"{s}\x1f{k}" for s, k in b_keys]
            kdf = (None if use_isin else self.spark.createDataFrame(
                list(b_keys), "seed_id long, key string"))
            spoolx = (self.bloom_spool and self._seen_nonempty
                      and self._seenx_usable())
            if spoolx:
                # 10^10 shape: membership of a driver-held bounded key
                # list against the committed seen set = a DRIVER-side
                # sorted-run memmap probe (the index lives on shared
                # storage; the driver is just another reader) — no
                # Spark job, no seen-table scan at all
                import numpy as np

                arr = np.array([f"{s}|{k}" for s, k in b_keys],
                               dtype=object)
                hit = seenidx.probe_str_runs(
                    tuple(sorted(self.store.table_paths("seenx"))),
                    arr, self.bloom_buckets)
                emitted = {bk for bk, h in zip(b_keys, hit) if h}
            seen_srcs = []
            if self._seen_nonempty and not spoolx:
                seen_srcs.append(self.store.read("seen").select(
                    "seed_id", F.col("deal_url_id").alias("key")))
            if emitted_keys_df is not None:
                seen_srcs.append(emitted_keys_df)
            if seen_srcs:
                s = seen_srcs[0]
                for p in seen_srcs[1:]:
                    s = s.unionByName(p)
                hits = (s.filter(ckey.isin(lits)).select("seed_id", "key")
                        if use_isin
                        else kdf.join(s, ["seed_id", "key"], "left_semi"))
                emitted |= {(int(r["seed_id"]), r["key"]) for r in hits.collect()}
            if self._ks_nonempty:
                ks = self.store.read("keystate")
                ks = (ks.filter(ckey.isin(lits)) if use_isin
                      else kdf.join(ks, ["seed_id", "key"], "inner"))
                for r in (ks.groupBy("seed_id", "key")
                          .agg(F.max_by(F.struct("state", "consumed"), "ver").alias("_s"))
                          .select("seed_id", "key", "_s.state", "_s.consumed")
                          .collect()):
                    ksmap[(int(r["seed_id"]), r["key"])] = (r["state"], int(r["consumed"]))
            for (sid, k, _u, cons, st, _v) in ks_delta:
                ksmap[(sid, k)] = (st, int(cons))

        # earliest parked occurrence per key — a dead key resurrects at
        # its minimum parked page (dispatched registry ∪ paused rests),
        # preserving the reference walk's claim order
        parked_min: dict = {}
        if self._parked_derive:
            # spilled registry: min-page per key from the table (plus
            # this wave's additions), FILTERED to the paused blocker
            # keys — the only keys parked_min is ever consulted for —
            # so the collect stays bounded by the paused-rest count
            if b_keys:
                srcs = [self._parked_view().select(
                    "seed_id", "key", "page_number")]
                if self._parked_add_df is not None:
                    srcs.append(self._parked_add_df.select(
                        "seed_id", "key", "page_number"))
                pv = srcs[0]
                for p in srcs[1:]:
                    pv = pv.unionByName(p)
                pk = F.concat_ws("\x1f", F.col("seed_id"), F.col("key"))
                plits = [f"{s}\x1f{k}" for s, k in b_keys]
                if len(b_keys) <= self._LIT_LOOKUP_MAX:
                    pv = pv.filter(pk.isin(plits))
                else:
                    kdf2 = self.spark.createDataFrame(
                        list(b_keys), "seed_id long, key string")
                    pv = pv.join(F.broadcast(kdf2), ["seed_id", "key"],
                                 "left_semi")
                for r in (pv.groupBy("seed_id", "key")
                          .agg(F.min("page_number").alias("mn")).collect()):
                    parked_min[(int(r["seed_id"]), r["key"])] = int(r["mn"])
        else:
            for (s, pn), keys in self._parked_disp.items():
                for k in keys:
                    parked_min[(s, k)] = min(parked_min.get((s, k), 1 << 30), pn)
        for (s, pn), st in self._paused.items():
            for c in st["rest"]:
                if c.get("d"):
                    parked_min[(s, c["k"])] = min(
                        parked_min.get((s, c["k"]), 1 << 30), pn)

        cont_rows: list[tuple] = []
        conv_rows: list[tuple] = []
        for (sid, pn) in sorted(self._paused):
            st = self._paused[(sid, pn)]
            if not self._stop_ok(sid, pn):
                del self._paused[(sid, pn)]
                self._paused_dirty = True
                continue
            rest = [c for c in st["rest"]
                    if not (c.get("d") and (sid, c["k"]) in emitted)]
            if len(rest) != len(st["rest"]):
                self._paused_dirty = True
            st["rest"] = rest
            if rest and rest[0].get("d"):
                k = rest[0]["k"]
                s = ksmap.get((sid, k))
                if s and s[0] == "dead" \
                        and parked_min.get((sid, k), pn) >= pn:
                    c0 = rest[0]
                    c0.pop("d", None)
                    c0["a"] = int(s[1])
                    conv_rows.append((sid, k, c0["u"], int(s[1]),
                                      "inflight", 2 * wave + 1))
                    ksmap[(sid, k)] = ("inflight", int(s[1]))
                    self._paused_dirty = True
            if not rest:
                del self._paused[(sid, pn)]
                self._paused_dirty = True
                continue
            if rest[0].get("d"):
                st["blocker"] = rest[0]["k"]
                continue
            rt = self.runtimes[sid]
            n_fetch = sum(1 for c in rest if not c.get("d"))
            cont_rows.append((
                rt["template"].format(pn), "detail",
                rt["template"].split("/")[2],
                json.dumps({"b": st["b"], "cards": rest}, ensure_ascii=False),
                sid, pn, n_fetch, st["b"], wave + 1))
            del self._paused[(sid, pn)]
            self._paused_dirty = True
            # the continuation is now a DISPATCHED group: re-register
            # its remaining placeholders (non-local by construction)
            ph = {c["k"] for c in rest if c.get("d")}
            if ph and self._parked_derive:
                self._parked_readds += [(k, sid, pn) for k in sorted(ph)]
            elif ph:
                self._parked_disp[(sid, pn)] = ph
        cont_df = (self.spark.createDataFrame(cont_rows, model.FRONTIER_SCHEMA)
                   if cont_rows else None)
        return cont_df, conv_rows

    # ------------------------------------------------------------- helpers

    # Small driver-built lookup tables (watermarks, retry-burn counters,
    # parked keys, per-host first-priority rows) are joined as literal
    # ``create_map``/``isin`` expressions instead of
    # createDataFrame+broadcast joins when they fit: every broadcast of
    # a driver-row table costs a separate broadcast-build job
    # (~0.25-0.3 s of scheduling on tiny waves) plus a py4j
    # createDataFrame round trip — at a handful of such joins per wave
    # that overhead is what caps politeness-wave throughput.  Above the
    # threshold (the plan-literal blowup limit, NOT a data limit) the
    # callers keep their broadcast-join fallback, which is the right
    # physical plan at 10^6-seed scale.
    _LIT_LOOKUP_MAX = 256

    def _lit_map(self, mapping: dict, key_col, value_type: str):
        """``mapping`` as a literal map-lookup Column, or None if too
        large (caller falls back to a broadcast join)."""
        if len(mapping) > self._LIT_LOOKUP_MAX:
            return None
        pairs = [x for k, v in mapping.items() for x in (F.lit(k), F.lit(v))]
        if not pairs:
            return F.lit(None).cast(value_type)
        return F.element_at(F.create_map(*pairs), key_col).cast(value_type)

    def _apply_stop_filter(self, df: DataFrame, page_col="page_number") -> DataFrame:
        """Drop rows of stopped seeds at/beyond their captcha page."""
        if not self._stopped:
            return df
        cond = None
        for sid, p in self._stopped.items():
            c = (F.col("seed_id") == sid) & (F.col(page_col) >= p)
            cond = c if cond is None else cond | c
        return df.filter(~cond)

    def _stop_ok(self, sid: int, page: int) -> bool:
        p = self._stopped.get(sid)
        return p is None or page < p

    # ------------------------------------------------------------ main loop

    def run(self, max_waves: int = 10_000) -> DataFrame:
        if self.store.last_wave() < 0:
            self._seen_rows = 0  # fresh store: exact count is trackable
            self.store.commit_wave(0, appends={"frontier": self._initial_frontier()})
        self._load_state()
        wave = self.store.last_wave() + 1
        try:
            for _ in range(max_waves):
                if not self._run_wave(wave):
                    break
                wave += 1
        finally:
            # _run_wave restores per wave; this covers exceptions and
            # early returns so session-level codegen confs never leak
            self._restore_exec_mode()
        return self.offers()

    def offers(self) -> DataFrame:
        return self.store.read("offers").orderBy(*model.ORDER_COLS)

    # ------------------------------------------------- re-crawl invalidation

    def invalidate_and_recrawl(self, pages: list[tuple[int, int]],
                               max_waves: int = 10_000) -> DataFrame:
        """Invalidate specific (seed_id, page_number) list pages and
        re-crawl them: their offers leave the table, their deal-url-ids
        leave the seen set, and fresh frontier rows re-fetch the pages.

        Deletes hit the EXACT seen table only.  The Bloom sidecar needs
        no delete support: a now-stale positive merely routes the key
        to the exact anti-join, which no longer contains it — the URL
        is correctly treated as unseen.  The sidecar is nevertheless
        rebuilt from the post-invalidation seen table (below), so this
        method costs O(seen), not O(invalidated keys).  Offers first
        seen on OTHER pages keep their seen keys, so a re-crawl never
        duplicates them.

        Known limitation (documented, accepted): only the invalidated
        pages are re-fetched.  An offer that FIRST won on an
        invalidated page but also appeared (as a suppressed duplicate)
        on another already-crawled page is recovered only if the
        re-fetched page still lists it — the loser pages are not
        re-crawled.  Full recovery would re-enqueue every page known to
        have contained a duplicate of the invalidated keys, which
        requires a (key, page) duplicate log the reference has no
        analog of; deployments that need it can widen ``pages`` to the
        affected range.

        Detail-mode note (fuzz-found, seed 5 trial 0): a re-crawled
        page's DETAIL walk resumes the session-global detail-URL
        attempt counters (the reference's one exception counter per
        session, cianparser.py:71-83), so a page that previously died
        mid-walk gets its re-fetch at ADVANCED attempts — under
        attempt-indexed synthetic faults the outcome can differ from
        the original run.  That is the intended production behavior
        ("give the page another try with the retry budget it has
        left"), but it means convergence-to-original is only a
        guaranteed invariant for list-only crawls, where fetch attempts
        are per-frontier-row and replay deterministically from 0."""
        self._load_state()
        marker = self.store.last_wave() + 1
        cond = None
        for sid, p in pages:
            c = (F.col("seed_id") == sid) & (F.col("page_number") == p)
            cond = c if cond is None else cond | c
        offers_cur = self.store.read("offers")
        invalid_keys = offers_cur.filter(cond).select(
            "seed_id",
            F.coalesce(F.col("deal_url_id"), F.lit("-1")).alias("deal_url_id"),
        )
        new_seen = self.store.read("seen").join(
            invalid_keys, ["seed_id", "deal_url_id"], "left_anti")
        rows = []
        for sid, p in pages:
            rt = self.runtimes[sid]
            rows.append((rt["template"].format(p), "list",
                         rt["template"].split("/")[2], None,
                         sid, p, -1, 0, marker + 1))
        # the Bloom sidecar may lag the seen table (the final wave of a
        # completed crawl skips its rebuild) and deletes make it stale
        # anyway — rebuild it from the post-invalidation seen set so the
        # re-crawl's prefilter routes every still-seen key to the exact
        # join (bloom ⊇ seen restored)
        adopt_replace = None
        self._bloom = {}
        self._bloom_gen += 1
        if self.bloom_spool:
            bloom_df = self._update_bloom_spark(new_seen, fresh=True)
            self._bloom_nonempty = True
            # the exact-tier sidecar cannot delete either (sorted runs
            # are immutable) — rebuild it from the post-invalidation
            # seen set in the same atomic commit, like the Bloom
            sx_spool = os.path.join(self.store.root, "scratch",
                                    f"seenx-inval-{marker:05d}")
            seenidx.write_str_runs(
                new_seen.select(F.concat_ws(
                    "|", F.col("seed_id"),
                    F.col("deal_url_id")).alias("key")),
                sx_spool, self.bloom_buckets, f"w{marker:05d}")
            adopt_replace = {"seenx": sx_spool}
        else:
            bloom_df = self._update_bloom(new_seen)
        # seen rewritten in every branch: recheck sidecar coverage
        # before the next consult (the spool branch's rebuild passes
        # the recheck by its replace-commit naming)
        self._seenx_ok = None
        self.store.commit_wave(
            marker,
            appends={"frontier": self.spark.createDataFrame(rows, model.FRONTIER_SCHEMA)},
            replaces={
                "offers": offers_cur.filter(~cond),
                "seen": new_seen,
                "bloom": bloom_df,
            },
            adopt_replace=adopt_replace,
        )
        self._next_pending = len(rows)
        self._seen_nonempty = None  # recompute from the rewritten table
        return self.run(max_waves)

    def _run_wave(self, wave: int) -> bool:
        self._tick("wave_start")
        if self._next_pending == 0:
            return False
        if self._next_pending is not None:
            # exact frontier count from the previous wave's commit —
            # lets the selection/robots plans skip codegen too; waves
            # with an unknown count (resume) decide after selection
            self._set_exec_mode(self._next_pending * 32)
        pending = self._apply_stop_filter(
            self.store.read("frontier").filter(F.col("wave") == wave)
        )
        blocked_expr = self._robots_blocked_expr()
        marked, fully_selected, n_fast, n_blocked = self._select_budget(
            pending, self._debt, blocked=blocked_expr)
        robots_dead = None
        if n_blocked:
            robots_dead = pending.filter(blocked_expr).select(
                "url", F.lit("robots-list").alias("kind"),
                "seed_id", "page_number", "attempt",
                F.lit(wave).cast("long").alias("wave"),
            )

        # --- driver collect #1: selection stats.  When every host fits
        # its budget (the common wave at scale and the whole fast path)
        # the only stat needed is the row count, which the demand
        # aggregate already produced — deferred-page watermark
        # bookkeeping applies to an empty set.
        if fully_selected:
            mstats = []
            n_selected = n_fast if n_fast is not None else marked.count()
            n_deferred = 0
        else:
            marked = marked.persist()
            mstats = (
                marked.groupBy("_selected", "kind", "seed_id")
                .agg(F.count("*").alias("n"), F.min("page_number").alias("min_page"))
                .collect()
            )
            n_selected = sum(r["n"] for r in mstats if r["_selected"])
            n_deferred = sum(r["n"] for r in mstats if not r["_selected"])
        self._tick("select_stats")
        robots_appends: dict[str, DataFrame] = {}
        if robots_dead is not None:
            robots_appends["dead"] = robots_dead
        if n_selected == 0 and n_deferred == 0:
            if robots_appends:
                self.store.commit_wave(wave, appends=robots_appends)
            marked.unpersist()
            self._next_pending = 0
            return False
        if n_selected == 0:
            # budget fully eaten by 429 debt: roll everything to w+1
            deferred = marked.withColumn("wave", F.lit(wave + 1).cast("long")) \
                .select(*[f.name for f in model.FRONTIER_SCHEMA.fields])
            self._debt = {}
            self.store.commit_wave(wave, appends={"frontier": deferred, **robots_appends})
            marked.unpersist()
            self._next_pending = n_deferred
            return True

        # frontier rows are pages / detail groups; the stage they feed
        # explodes to ~32 card rows each — that product is what the
        # compiled-vs-interpreted decision is about
        self._set_exec_mode((n_selected + n_deferred) * 32)
        selected = marked.filter(F.col("_selected")).drop("_selected")
        deferred_df = (
            marked.filter(~F.col("_selected"))
            .drop("_selected")
            .withColumn("wave", F.lit(wave + 1).cast("long"))
            .select(*[f.name for f in model.FRONTIER_SCHEMA.fields])
        )

        # 2-4 tasks per core for load balance; spool the stage to parquet
        # instead of caching wide rows on the JVM heap — every downstream
        # consumer (outcome stats, retry frames, card finalization) then
        # reads a column-pruned native columnar scan instead of re-walking
        # 59-field cached objects, and the single-JVM GC pressure that
        # breaks scaling at high core counts disappears.  On a real
        # cluster this spool is the per-wave shuffle/staging file.
        dp = self.spark.sparkContext.defaultParallelism
        par = max(1, min(4 * dp, (n_selected + 63) // 64))
        spool = os.path.join(self.store.root, "scratch", f"stage-w{wave:05d}")
        # The wave's first-wins dedup has two physical strategies:
        #
        # (a) MAP-ONLY (default): partition the NARROW frontier by
        #     seed_id (politeness bounds each seed's per-wave volume,
        #     so partitions are budget-bounded by construction), sort
        #     within partitions by (seed_id, page_number) and let the
        #     fetch kernel drop in-wave duplicate keys with a local
        #     seen-set (stage.card_dedup_key).  The wide rows then go
        #     kernel → columnar widen → spool write in ONE map-side
        #     stage: zero wide shuffle, no AQE barrier.  The only
        #     shuffle is the tiny narrow-frontier repartition.
        # (b) SHUFFLE: groupBy(key).min_by(full row) — the general
        #     fallback when the wave has too few seeds to spread (a
        #     single-seed mega-wave would make (a) serial).
        #
        # Both produce identical rows: "first key wins in per-seed
        # page order" == global min_by(page_number, card_index).
        is_card = F.col("row_type") == "card"
        n_seeds = len(self.runtimes)
        map_only = self.dedup_strategy == "map_only" or (
            self.dedup_strategy == "auto"
            and (n_seeds >= dp or n_selected <= 256 * dp)
        )
        # card count + mean price observed DURING the spool write (no
        # separate aggregate job) — consumed by the cold-start adopt
        # path, where the spool's card partition IS the accepted set
        obs_spool = Observation(f"spool-w{wave}")
        is_card_obs = F.col("row_type") == "card"
        spool_metrics = (
            F.count(F.when(is_card_obs, 1)).alias("n_cards"),
            F.avg(F.when(is_card_obs,
                         F.coalesce("price", "price_per_month"))).alias("avg_price"),
        )
        if map_only:
            par_k = max(1, min(4 * dp, n_seeds))
            raw = (
                selected.repartition(par_k, "seed_id")
                .sortWithinPartitions("seed_id", "page_number", "card_index")
                .mapInPandas(
                    make_fetch_parse(self.runtimes, self.web_cfg, in_wave_dedup=True,
                                     respect_robots=self.respect_robots),
                    model.RAW_STAGE_SCHEMA)
            )
            (
                columnar.widen(raw, self._seed_dim())
                .observe(obs_spool, *spool_metrics)
                .write.option("parquet.enable.dictionary", "false")
                .partitionBy("row_type").mode("overwrite").parquet(spool)
            )
        else:
            raw = (
                selected.repartition(par, "host", "url")
                .mapInPandas(make_fetch_parse(self.runtimes, self.web_cfg,
                                              respect_robots=self.respect_robots),
                             model.RAW_STAGE_SCHEMA)
            )
            parsed = columnar.widen(raw, self._seed_dim())
            # null deal_url_id (extraction fell through) keys as the
            # literal "-1" — the reference inserts "-1" into its seen
            # set, so ALL such cards of one seed collapse to the first
            # (helpers.py:27-34 default + flat/list.py:57); the same
            # key is used by _dedup and the seen table, so every path
            # agrees with the simulator
            gkey = F.when(
                is_card,
                F.concat_ws("|", F.lit("C"), F.col("seed_id"),
                            F.coalesce(F.col("deal_url_id"), F.lit("-1"))),
            ).otherwise(
                F.concat_ws("|", F.lit("O"), F.col("row_type"), F.col("seed_id"),
                            F.col("page_number"), F.col("card_index"), F.col("fetch_url"))
            )
            payload = F.struct(*[f.name for f in model.STAGE_SCHEMA.fields])
            (
                parsed.groupBy(gkey.alias("_g"))
                .agg(F.min_by(payload, F.struct("page_number", "card_index")).alias("_f"))
                .select("_f.*")
                .observe(obs_spool, *spool_metrics)
                .write.option("parquet.enable.dictionary", "false")
                .partitionBy("row_type").mode("overwrite").parquet(spool)
            )
        self._tick("spool_write")
        stage = self.spark.read.schema(model.STAGE_SCHEMA).parquet(spool)

        # --- driver collect #2: page/detail outcomes.  Per-page
        # granularity is only needed for rows the driver must act on
        # (failures → retry/dead/watermark, captcha → stop); the happy
        # path collapses to O(hosts × partitions) so the collect stays
        # tiny even when a wave fetches millions of pages.
        is_ok_page = (F.col("row_type") == "page") & (F.col("outcome") == "ok")
        is_offer = F.col("row_type") == "offer"
        fine = (
            stage.filter((F.col("row_type") != "card") & ~is_ok_page & ~is_offer)
            .groupBy("row_type", "outcome", "host", "seed_id", "page_number",
                     "attempt", "partition_id")
            .agg(F.count("*").alias("n"),
                 F.sum(F.coalesce(F.col("n_cards"), F.lit(0))).alias("cards"))
        )
        # NB (documented drift): the coarse ok-page/offer aggregate drops
        # seed/page granularity, so when a captcha stop is discovered in
        # THIS wave the live() filter cannot exclude the same wave's ok
        # rows from n_cards/n_detail_ok — wave METRICS may overstate by
        # the stopped seed's tail.  Table appends stay stop-filtered, so
        # data is unaffected; per-page metric granularity would make the
        # driver collect O(pages), which this design deliberately avoids.
        coarse = (
            stage.filter(is_ok_page | is_offer)
            .groupBy("row_type", "host", "partition_id")
            .agg(F.count("*").alias("n"),
                 F.sum(F.coalesce(F.col("n_cards"), F.lit(0))).alias("cards"))
            .select("row_type", F.lit("ok").alias("outcome"), "host",
                    F.lit(-1).cast("long").alias("seed_id"),
                    F.lit(-1).cast("long").alias("page_number"),
                    F.lit(0).cast("long").alias("attempt"),
                    "partition_id", "n", "cards")
        )
        pinfo = fine.unionByName(coarse).collect()
        self._tick("fetch_parse+outcomes")

        # captcha circuit breaker (per seed = per reference run)
        for r in pinfo:
            if r["outcome"] == "captcha":
                sid, p = int(r["seed_id"]), int(r["page_number"])
                self._stopped[sid] = min(self._stopped.get(sid, 1 << 30), p)
        if self._stopped and (self._parked_disp or self._paused):
            # cancelled groups of stopped seeds never run, so no marker
            # will ever clear their ledger entries — purge here
            for (sid, pn) in [k for k in self._parked_disp
                              if not self._stop_ok(*k)]:
                del self._parked_disp[(sid, pn)]
            for (sid, pn) in [k for k in (self._paused or {})
                              if not self._stop_ok(*k)]:
                del self._paused[(sid, pn)]
                self._paused_dirty = True

        def live(r) -> bool:
            return self._stop_ok(int(r["seed_id"]), int(r["page_number"]))

        page_rows = [r for r in pinfo if r["row_type"] == "page"]
        fail_rows = [r for r in page_rows
                     if r["outcome"] in ("http_error", "http_429", "noheader")]
        retry_pages = [r for r in fail_rows if r["attempt"] + 1 < MAX_ATTEMPTS and live(r)]
        dead_pages = [r for r in fail_rows if r["attempt"] + 1 >= MAX_ATTEMPTS and live(r)]
        # detail_err rows are INFORMATIONAL (metrics + 429 debt): the
        # page-coupled group walk already retried or dead-lettered the
        # failure in-task (stage.py), the driver never reschedules it
        detail_err_rows = [r for r in pinfo if r["row_type"] == "detail_err"]
        n_detail_ok = sum(r["n"] for r in pinfo if r["row_type"] == "offer" and live(r))
        n_cards = sum(r["cards"] for r in page_rows if r["outcome"] == "ok" and live(r))
        # list-page burn counters: budget the page's future detail walk
        # inherits (reference couples both into ONE exception counter,
        # cianparser.py:71-83)
        for r in retry_pages:
            self._page_burn[(int(r["seed_id"]), int(r["page_number"]))] = int(r["attempt"]) + 1

        # 429 debt for next wave's budget
        self._debt = {}
        for r in page_rows + detail_err_rows:
            if r["outcome"] == "http_429":
                self._debt[r["host"]] = self._debt.get(r["host"], 0) + _429_DEBT * int(r["n"])

        # lineage per partition: inputs = fetched urls, outputs = cards + merged offers
        lin: dict[int, list[int]] = {}
        for r in pinfo:
            pid = int(r["partition_id"])
            io = lin.setdefault(pid, [0, 0])
            io[0] += int(r["n"])
            io[1] += int(r["cards"]) + (int(r["n"]) if r["row_type"] == "offer" else 0)

        # --- lazy retry/dead frames (recompute from cached stage only)
        fails = stage.filter(
            (F.col("row_type") == "page")
            & F.col("outcome").isin("http_error", "http_429", "noheader")
            & (F.col("attempt") + 1 < MAX_ATTEMPTS)
        )
        retry_list_df = self._apply_stop_filter(fails).select(
            F.col("fetch_url").alias("url"), F.lit("list").alias("kind"),
            "host", F.lit(None).cast("string").alias("card_json"),
            "seed_id", "page_number", F.lit(-1).cast("long").alias("card_index"),
            (F.col("attempt") + 1).alias("attempt"),
            F.lit(wave + 1).cast("long").alias("wave"),
        )
        # stop-filtered: a captcha-stopped seed's later pages are
        # CANCELLED, not dead — the reference never reaches them (its
        # sequential loop breaks at the captcha), so dead-lettering a
        # page the oracle never fetched would diverge the dead table
        dead_df = self._apply_stop_filter(stage.filter(
            (F.col("row_type") == "page")
            & F.col("outcome").isin("http_error", "http_429", "noheader")
            & (F.col("attempt") + 1 >= MAX_ATTEMPTS)
        )).select(
            F.col("fetch_url").alias("url"),
            F.lit("list").alias("kind"),
            "seed_id", "page_number", (F.col("attempt") + 1).alias("attempt"),
            F.lit(wave).cast("long").alias("wave"),
        )

        # --- detail-group markers: the sequential walks that did NOT
        # complete (paused at an unresolved duplicate / died on budget
        # exhaustion).  Completed groups emit no marker — their keys
        # resolve through the seen append, so this collect is bounded
        # by the fault + duplicate-collision rate, never by pages.
        extra_ids = [sid for sid, rt in self.runtimes.items() if rt["with_extra"]]
        dead_group_rows: list[tuple] = []
        ks_delta: list[tuple] = []  # (seed_id, key, url, consumed, state, ver)
        if extra_ids:
            gmarkers = (
                stage.filter(F.col("row_type") == "group_state")
                .select("seed_id", "page_number", "outcome", "card_json", "fetch_url")
                .collect()
            )
            for r in gmarkers:
                sid, pn = int(r["seed_id"]), int(r["page_number"])
                self._parked_disp.pop((sid, pn), None)
                self._parked_removed.add((sid, pn))  # derive-mode twin
                if not self._stop_ok(sid, pn):
                    self._paused.pop((sid, pn), None)
                    continue
                m = json.loads(r["card_json"])
                if r["outcome"] == "dead":
                    # the page died mid-walk (reference failed_pages,
                    # cianparser.py:84-87): dead-letter the LIST page,
                    # record every dropped card's key with its consumed
                    # detail-URL attempts for later resurrection
                    dead_group_rows.append(
                        (r["fetch_url"], "list", sid, pn, MAX_ATTEMPTS, wave))
                    self._paused.pop((sid, pn), None)
                    self._page_burn.pop((sid, pn), None)
                    for k, u, cons in m["ks"]:
                        ks_delta.append((sid, k, u, int(cons), "dead", 2 * wave))
                else:  # paused
                    self._paused[(sid, pn)] = {
                        "b": int(m["b"]), "blocker": m["blocker"], "rest": m["rest"]}

        # --- per-seed watermarks from driver stats (min unresolved list page)
        min_pending: dict[int, int] = {}
        for r in mstats:
            if not r["_selected"] and r["kind"] == "list" and r["min_page"] is not None:
                sid = int(r["seed_id"])
                if self._stop_ok(sid, int(r["min_page"])):
                    min_pending[sid] = min(min_pending.get(sid, 1 << 30), int(r["min_page"]))
        for r in retry_pages:
            sid = int(r["seed_id"])
            min_pending[sid] = min(min_pending.get(sid, 1 << 30), int(r["page_number"]))
        wm = {
            rt["seed_id"]: min_pending.get(rt["seed_id"], 1 << 30) - 1
            for rt in self.runtimes.values()
        }

        # --- staged cards: previous leftovers + this wave's cards
        have_staged_input = n_cards > 0 or self._staged_nonempty
        accepted = None
        n_accepted = 0
        avg_price = None
        leftover_df = None
        acc_adopt_dir = None
        if have_staged_input:
            new_cards = self._apply_stop_filter(
                stage.filter(F.col("row_type") == "card")
                .select(*model.OFFER_COLS, "seed_id", "page_number", "card_index")
                .withColumn("wave", F.lit(wave).cast("long"))
            )
            cold = (not self._staged_nonempty and not min_pending
                    and not self._stopped and not self._bloom_exists()
                    and not self._seen_nonempty)
            if cold:
                # cold-start wave (no leftovers, no seen set, no stops):
                # the in-stage fused dedup already produced the final
                # accepted set, so the spool's card partition IS the
                # offers append — zero further shuffles or writes
                acc_adopt_dir = os.path.join(spool, "row_type=card")
                accepted = new_cards
                row = obs_spool.get  # observed during the spool write
                n_accepted = int(row["n_cards"])
                avg_price = (None if row["avg_price"] is None
                             else float(row["avg_price"]))
            else:
                staged = self._apply_stop_filter(
                    self.store.read("staged").unionByName(new_cards)
                )
                if min_pending:
                    wm_col = self._lit_map(wm, F.col("seed_id"), "long")
                    if wm_col is None:  # many-seed fallback: broadcast join
                        wm_df = self.spark.createDataFrame(
                            [(sid, w) for sid, w in wm.items()], "seed_id long, wm long"
                        )
                        staged = staged.join(F.broadcast(wm_df), "seed_id", "left")
                    else:
                        staged = staged.withColumn("wm", wm_col)
                    finalize = staged.filter(F.col("page_number") <= F.col("wm")).drop("wm")
                    leftover_df = staged.filter(F.col("page_number") > F.col("wm")).drop("wm") \
                        .select(*[f.name for f in model.STAGED_SCHEMA.fields])
                else:
                    # every list page is resolved → the watermark passes
                    # ALL staged cards; skip the join and the (provably
                    # empty) leftover scan outright
                    finalize = staged
                    leftover_df = None
                # this wave's cards are already keep-first-deduped by the
                # fused stage aggregate; the in-batch pass is only re-run
                # when staged leftovers from earlier waves can collide
                in_batch = bool(self._staged_nonempty) or bool(min_pending)
                acc_spool = os.path.join(self.store.root, "scratch", f"accepted-w{wave:05d}")
                # count + mean price observed DURING the spool write —
                # zero extra job (vs a separate aggregate scan; at 5-6
                # waves/run the saved job is ~0.3-0.5 s of serial
                # driver time per wave)
                obs = Observation(f"acc-w{wave}")
                self._dedup(finalize, approx_rows=n_cards, in_batch=in_batch,
                            detail_ids=extra_ids) \
                    .withColumn("wave", F.lit(wave).cast("long")) \
                    .select(*[f.name for f in model.STAGED_SCHEMA.fields]) \
                    .observe(obs, F.count(F.lit(1)).alias("n"),
                             F.avg(F.coalesce("price", "price_per_month")).alias("avg_price")) \
                    .write.mode("overwrite").parquet(acc_spool)
                accepted = self.spark.read.schema(model.STAGED_SCHEMA).parquet(acc_spool)
                row = obs.get
                n_accepted = int(row["n"])
                avg_price = None if row["avg_price"] is None else float(row["avg_price"])
            self._tick("finalize_dedup")

        # --- split accepted: emit now vs build page-coupled detail groups
        appends: dict[str, DataFrame] = {}
        adopt: dict[str, str] = {}
        adopt_replace: dict[str, str] = {}
        replaces: dict[str, DataFrame] = {}
        frontier_parts = []
        if n_deferred:
            frontier_parts.append(deferred_df)
        if retry_pages:
            frontier_parts.append(retry_list_df)

        # this wave's EMITTED detail offers — the only place a
        # detail-mode key becomes seen (the reference adds to its
        # result_set only after the detail fetch succeeds,
        # flat/list.py:66-67 / newobject/list.py:87-88)
        offer_emit_df = None
        emitted_keys_df = None
        if n_detail_ok:
            offer_emit_df = (
                self._apply_stop_filter(stage.filter(F.col("row_type") == "offer"))
                .select(*model.OFFER_COLS, "seed_id", "page_number", "card_index")
                .withColumn("wave", F.lit(wave).cast("long"))
            )
            emitted_keys_df = offer_emit_df.select(
                "seed_id",
                F.coalesce(F.col("deal_url_id"), F.lit("-1")).alias("key"))

        offers_parts = []
        seen_parts = []
        need_detail = None
        if n_accepted:
            if extra_ids:
                need_detail = accepted.filter(F.col("seed_id").isin(extra_ids))
                emit_now = accepted.filter(~F.col("seed_id").isin(extra_ids))
                offers_parts.append(
                    emit_now.select(*[f.name for f in model.STAGED_SCHEMA.fields])
                )
                seen_parts.append(emit_now)
            else:
                # zero-copy: the accepted data (the spool's card
                # partition on cold-start waves, the dedup spool
                # otherwise) already holds exactly the offers rows —
                # the commit renames the directory into the table
                # instead of rewriting 100% of the wave's output
                adopt["offers"] = acc_adopt_dir or acc_spool
                seen_parts.append(accepted)
        if extra_ids:
            groups_df, ks_replace = self._detail_ledger(
                wave, ks_delta, emitted_keys_df, need_detail)
            if groups_df is not None:
                frontier_parts.append(groups_df)
            cont_df, conv_rows = self._resolve_paused(wave, ks_delta, emitted_keys_df)
            if cont_df is not None:
                frontier_parts.append(cont_df)
            if conv_rows:
                conv_df = self.spark.createDataFrame(
                    conv_rows,
                    "seed_id long, key string, url string, consumed long, state string, ver long"
                ).select(*[f.name for f in model.KEYSTATE_SCHEMA.fields])
                ks_replace = (conv_df if ks_replace is None
                              else ks_replace.unionByName(conv_df))
            if ks_replace is not None:
                replaces["keystate"] = ks_replace
        if offer_emit_df is not None:
            offers_parts.append(offer_emit_df)
            seen_parts.append(offer_emit_df)
        seen_df = None
        if seen_parts:
            seen_src = seen_parts[0].select("seed_id", "deal_url_id")
            for p in seen_parts[1:]:
                seen_src = seen_src.unionByName(p.select("seed_id", "deal_url_id"))
            seen_dk = F.coalesce(F.col("deal_url_id"), F.lit("-1"))
            seen_df = seen_src.select(
                seen_dk.alias("deal_url_id"), "seed_id",
                F.xxhash64(F.concat_ws("|", F.col("seed_id"), seen_dk)).alias("key_hash"),
                F.lit(wave).cast("long").alias("wave"),
            )
        if offers_parts:
            out = offers_parts[0]
            for p in offers_parts[1:]:
                out = out.unionByName(p)
            appends["offers"] = out.select(*model.OFFER_COLS, "seed_id",
                                           "page_number", "card_index", "wave")
        if dead_pages:
            appends["dead"] = dead_df
        if dead_group_rows:
            dg = self.spark.createDataFrame(dead_group_rows, model.DEAD_SCHEMA)
            appends["dead"] = (
                appends["dead"].unionByName(dg) if "dead" in appends else dg
            )
        if robots_dead is not None:
            appends["dead"] = (
                appends["dead"].unionByName(robots_dead)
                if "dead" in appends else robots_dead
            )

        n_frontier_next = 0
        fr_thread = None
        fr_box: dict = {}
        if frontier_parts:
            frontier_next = frontier_parts[0]
            for p in frontier_parts[1:]:
                frontier_next = frontier_next.unionByName(p)
            # write-once + adopt-by-rename: the row count rides the
            # write as an Observation, so "count, then write at commit"
            # (two executions of the same plan, or a persist + an extra
            # job) collapses into ONE job per wave — and the write runs
            # on a BACKGROUND thread, overlapping the seen-table spool
            # write below (two independent driver-blocking jobs per
            # wave otherwise run back to back; the plan is fully built
            # here, the thread only submits+awaits the job).
            fr_spool = os.path.join(self.store.root, "scratch", f"frontier-w{wave:05d}")
            obs_fr = Observation(f"fr-w{wave}")
            fr_plan = frontier_next.observe(obs_fr, F.count(F.lit(1)).alias("n"))

            def _write_frontier(plan=fr_plan, obs=obs_fr, path=fr_spool):
                try:
                    plan.write.mode("overwrite").parquet(path)
                    fr_box["n"] = int(obs.get["n"])
                except BaseException as exc:  # noqa: BLE001 — re-raised on join
                    fr_box["err"] = exc

            import threading

            fr_thread = threading.Thread(target=_write_frontier, daemon=True)
            fr_thread.start()

        def _finish_frontier() -> int:
            """Join the frontier spool write (idempotent); the paused
            deadlock invariant and every want_bloom decision depend on
            its count."""
            nonlocal fr_thread, n_frontier_next
            if fr_thread is not None:
                fr_thread.join()
                fr_thread = None
                if "err" in fr_box:
                    raise fr_box["err"]
                n_frontier_next = fr_box.get("n", 0)
                if n_frontier_next:
                    adopt["frontier"] = fr_spool
                self._tick("frontier_count")
            if self._paused and not n_frontier_next:
                # cannot happen: every paused walk blocks on a key
                # whose winning occurrence sits in a dispatched or
                # earlier-paused group, and blocking edges point
                # strictly backward in (page, card) order — the
                # chain always bottoms out at a dispatchable group
                raise RuntimeError(
                    f"paused detail groups deadlocked: {sorted(self._paused)}")
            return n_frontier_next
        if extra_ids and (dead_group_rows or self._paused or self._paused_dirty):
            replaces["paused"] = (
                [(st["blocker"], json.dumps(st["rest"], ensure_ascii=False),
                  sid, pn, st["b"], wave)
                 for (sid, pn), st in sorted(self._paused.items())],
                model.PAUSED_SCHEMA,
            )
            self._paused_dirty = bool(self._paused)

        # --- metrics/lineage built driver-side from pinfo (no extra jobs)
        mrows = {}
        for r in page_rows:
            h = r["host"]
            m = mrows.setdefault(h, dict(pages_fetched=0, cards_parsed=0, n_429=0,
                                         n_errors=0, captcha=False, details=0))
            if r["outcome"] == "ok":
                m["pages_fetched"] += int(r["n"])
                m["cards_parsed"] += int(r["cards"])
            elif r["outcome"] == "http_429":
                m["n_429"] += int(r["n"])
            elif r["outcome"] == "captcha":
                m["captcha"] = True
            else:
                m["n_errors"] += int(r["n"])
        for r in pinfo:
            if r["row_type"] == "offer":
                mrows.setdefault(r["host"], dict(pages_fetched=0, cards_parsed=0, n_429=0,
                                                 n_errors=0, captcha=False, details=0))["details"] += int(r["n"])
        # detail 429s count into the host's n_429 so the 10-s token
        # debt they charge survives a resume (_load_state rebuilds
        # _debt from the last wave's metrics)
        for r in detail_err_rows:
            if r["outcome"] == "http_429":
                mrows.setdefault(r["host"], dict(pages_fetched=0, cards_parsed=0, n_429=0,
                                                 n_errors=0, captcha=False, details=0))["n_429"] += int(r["n"])
        metrics_rows = [
            (h, wave, m["pages_fetched"], m["cards_parsed"],
             n_accepted + n_detail_ok if i == 0 else None,
             m["n_429"], m["n_errors"], m["details"],
             avg_price if i == 0 else None, m["captcha"])
            for i, (h, m) in enumerate(sorted(mrows.items()))
        ]
        if metrics_rows:
            appends["metrics"] = (
                [
                    {"host": h, "wave": w, "pages_fetched": pf, "cards_parsed": cp,
                     "offers_emitted": oe, "n_429": n4, "n_errors": ne,
                     "details_fetched": dt, "avg_price": ap, "captcha": ca}
                    for (h, w, pf, cp, oe, n4, ne, dt, ap, ca) in metrics_rows
                ],
                model.METRICS_SCHEMA,
            )
        if lin:
            appends["lineage"] = (
                [(wave, pid, io[0], io[1]) for pid, io in sorted(lin.items())],
                model.LINEAGE_SCHEMA,
            )

        if have_staged_input:
            if leftover_df is None:
                # watermark proved the leftover empty — only clear the
                # table if a previous wave actually left rows in it
                if self._staged_nonempty:
                    replaces["staged"] = ([], model.STAGED_SCHEMA)
                self._staged_nonempty = False
            else:
                leftover_df = leftover_df.persist()
                replaces["staged"] = leftover_df
                self._staged_nonempty = leftover_df.limit(1).count() > 0
        if self._stopped:
            replaces["stopped"] = (
                [(k, v) for k, v in sorted(self._stopped.items())], model.STOPPED_SCHEMA
            )
        n_seen = 0
        if seen_df is not None:
            # same write-once + adopt pattern as the frontier; when the
            # Bloom sidecar will be consulted again (non-final wave)
            # and the wave is politeness-bounded, the keys ride the
            # SAME write as a collect_list Observation and the sidecar
            # merge becomes pure driver work — the separate
            # bloom-collect job disappears from the wave
            n_keys = n_accepted + n_detail_ok
            small = (not self.bloom_spool) and n_keys <= 20_000
            seen_spool = os.path.join(self.store.root, "scratch", f"seen-w{wave:05d}")
            obs_seen = Observation(f"seen-w{wave}")
            aggs = [F.count(F.lit(1)).alias("n")]
            if small:
                # collected unconditionally (the frontier count that
                # decides want_bloom is still in flight on its thread);
                # a final wave just ignores the politeness-bounded list
                aggs.append(F.collect_list(
                    F.concat_ws("|", F.col("seed_id"), F.col("deal_url_id"))).alias("keys"))
            seen_df.observe(obs_seen, *aggs).write.mode("overwrite").parquet(seen_spool)
            row = obs_seen.get
            want_bloom = bool(_finish_frontier())
            n_seen = int(row["n"])
            if n_seen:
                adopt["seen"] = seen_spool
            if want_bloom and small:
                # the Bloom sidecar only exists to pre-filter FUTURE
                # waves' dedup; on the final wave (empty frontier)
                # nothing will ever read it — don't build the index
                # nobody consults
                replaces["bloom"] = self._merge_bloom_keys(list(row["keys"]))
                self._tick("bloom_update")
            elif want_bloom and n_seen:
                new_seen = self.spark.read.schema(
                    model.TABLE_SCHEMAS["seen"]).parquet(seen_spool)
                if self.bloom_spool:
                    replaces["bloom"] = self._update_bloom_spark(new_seen)
                    self._bloom_nonempty = True
                    self._seenx_update(new_seen, wave, adopt, adopt_replace)
                    self._tick("seenx_update")
                else:
                    replaces["bloom"] = self._update_bloom(new_seen)
                self._tick("bloom_update")
            elif self.bloom_spool and n_seen:
                # final wave: the seen append lands without a sidecar
                # update (nothing in THIS run reads it) — recheck
                # completeness before any later consult on this engine
                self._seenx_ok = None
            if self._seen_rows is not None:
                self._seen_rows += n_seen

        n_frontier_next = _finish_frontier()  # no-op if already joined
        self._commit_parked(wave, replaces)
        self.store.commit_wave(wave, appends=appends, replaces=replaces,
                               adopt=adopt,
                               adopt_replace=adopt_replace or None)
        self._parked_wave_reset()
        self._tick("commit")
        self._next_pending = n_frontier_next
        if n_seen:
            self._seen_nonempty = True
        if "keystate" in replaces:
            self._ks_nonempty = True

        if not fully_selected:
            marked.unpersist()
        if leftover_df is not None:
            leftover_df.unpersist()
        self._restore_exec_mode()
        # scratch spools are dead once the wave is committed
        shutil.rmtree(os.path.join(self.store.root, "scratch"), ignore_errors=True)
        return True

    # accepted-card count + TRUE-mean price (T8/A3 engine side — vs the
    # reference's over-weighted recurrence, base_list.py:43-47, which the
    # simulator keeps for progress-log parity; deviation documented in
    # SURVEY.md quirks appendix) are OBSERVED during the spool writes
    # (pyspark Observation), so the wave pays no separate aggregate job.

    def progress(self) -> DataFrame:
        """A5: per-wave progress ratio — cumulative offers emitted over
        the planned total (PAGE_SIZE × planned pages), as the
        reference's progress bar computes it (base_list.py:49-56:
        ceil(100·parsed/(offers_per_page·count_of_pages)))."""
        total_pages = sum(
            rt["end_page"] - rt["start_page"] + 1 for rt in self.runtimes.values()
        )
        cap = max(1, webgen.PAGE_SIZE * total_pages)
        w = Window.orderBy("wave").rowsBetween(Window.unboundedPreceding, 0)
        return (
            self.store.read("metrics")
            .groupBy("wave")
            .agg(F.sum(F.coalesce("offers_emitted", F.lit(0))).alias("offers_emitted"),
                 F.max("avg_price").alias("avg_price"))
            .withColumn("offers_cum", F.sum("offers_emitted").over(w))
            .withColumn("progress_pct",
                        F.least(F.lit(100), F.ceil(F.col("offers_cum") * 100 / cap)))
            .orderBy("wave")
        )

    # ------------------------------------------------------------- dedup

    def _dedup(self, finalize: DataFrame, approx_rows: int = 0,
               in_batch: bool = True, detail_ids: list[int] | None = None) -> DataFrame:
        """First-wins dedup in crawl order: keep-first inside the batch,
        then Bloom-prefiltered anti-join against the seen set (A1/J4 in
        SURVEY.md §2.6) — maybe-seen rows take the exact join;
        definitely-unseen rows bypass it.

        Keep-first never shuffles the wide card rows when it can avoid
        it: winner selection runs on FOUR narrow columns
        (seed_id, deal_url_id, page_number, card_index) — a min-struct
        hash aggregate with map-side partial aggregation — and the wide
        rows are then kept by a broadcast left-semi join on the winning
        (seed_id, page_number, card_index), which uniquely identifies
        one card.  Broadcast pays a serial driver-side hash-relation
        build, so it only wins for politeness-bounded waves
        (≲10^5 cards); above ``dedup_broadcast_rows`` a ``min_by`` hash
        aggregate carrying the whole row through one shuffle — still no
        sort (a window would shuffle the same rows AND sort every
        partition to keep only the minimum).  Both paths are
        deterministic: (page_number, card_index) is unique per
        (seed_id, deal_url_id) group.

        Null deal_url_id keys as the literal "-1" in every path (group
        keys, seen table, Bloom keys) — the reference's extractor
        default, so all null-key cards of a seed collapse to the first
        exactly like its seen-set does (helpers.py:34 + flat/list.py:57).

        ``detail_ids`` seeds (detail-mode) KEEP their in-batch
        duplicate occurrences: the reference claims a key only after
        its detail fetch succeeds, so losers stay alive as
        resurrection candidates — only the seen-set anti-join (keys
        whose detail already EMITTED) applies to them; winner vs
        placeholder ranking happens in the group builder."""
        finalize = finalize.withColumn(
            "_dk", F.coalesce(F.col("deal_url_id"), F.lit("-1"))
        )
        detail_passthrough = None
        if detail_ids:
            detail_passthrough = finalize.filter(F.col("seed_id").isin(detail_ids))
            finalize = finalize.filter(~F.col("seed_id").isin(detail_ids))
        keys = ["seed_id", "_dk"]
        if not in_batch:
            # caller guarantees in-batch uniqueness (the fused stage
            # aggregate already kept first per key this wave); only the
            # seen-set membership check below applies
            batch_first = finalize
        elif approx_rows <= self.dedup_broadcast_rows:
            winners = (
                finalize.select("seed_id", "_dk", "page_number", "card_index")
                .groupBy(*keys)
                .agg(F.min(F.struct("page_number", "card_index")).alias("_w"))
                .select("seed_id", F.col("_w.page_number").alias("page_number"),
                        F.col("_w.card_index").alias("card_index"))
            )
            batch_first = finalize.join(
                F.broadcast(winners), ["seed_id", "page_number", "card_index"], "left_semi"
            )
        else:
            payload = [c for c in finalize.columns if c not in keys]
            batch_first = (
                finalize.groupBy(*keys)
                .agg(F.min_by(
                    F.struct(*payload),
                    F.struct("page_number", "card_index"),
                ).alias("_f"))
                .select(*keys, "_f.*")
            )
        if detail_passthrough is not None:
            batch_first = batch_first.select(*detail_passthrough.columns) \
                .unionByName(detail_passthrough)

        # small seen table: the exact anti-join alone beats launching
        # the prefilter's Python workers (~0.3-0.5 s/wave); the Bloom
        # sidecar still gets MAINTAINED above so big later waves (and
        # resumes, where the count is unknown) keep the prefilter
        if self._bloom_exists() and (
                self._seen_rows is None or self._seen_rows > 50_000):
            maybe_seen = self._maybe_seen_udf()
            keyed = batch_first.withColumn(
                "_key", F.concat_ws("|", F.col("seed_id"), F.col("_dk"))
            ).withColumn("_maybe", maybe_seen(F.col("_key")))
            fresh = keyed.filter(~F.col("_maybe")).drop("_key", "_maybe")
            suspect = keyed.filter(F.col("_maybe"))
            if self.bloom_spool and self._seenx_usable():
                # 10^10 shape (VERDICT r04 ask #1): the exact tier is
                # the per-bucket sorted-run index (engine/seenidx.py),
                # probed in the SAME map-only pass style as the Bloom —
                # no per-wave rescan/shuffle of the full seen table, no
                # hash-relation build; cost ∝ suspects × log(run).
                # Exactness rides on the runs holding every committed
                # seen key (maintained atomically with the seen append;
                # _seenx_usable falls back to the join otherwise).
                sx = seenidx.seen_str_udf(
                    tuple(sorted(self.store.table_paths("seenx"))),
                    self.bloom_buckets)
                checked = suspect.filter(~sx(F.col("_key"))) \
                    .drop("_key", "_maybe")
            else:
                checked = suspect.drop("_key", "_maybe").join(
                    self.store.read("seen").select(
                        "seed_id", F.col("deal_url_id").alias("_dk")),
                    ["seed_id", "_dk"],
                    "left_anti",
                )
            return fresh.unionByName(checked).drop("_dk")
        if self._seen_nonempty:
            # no Bloom sidecar but a non-empty seen table (e.g. a
            # re-crawl after a completed run whose final wave skipped
            # the bloom rebuild): plain exact anti-join — correctness
            # never depends on the sidecar existing
            return batch_first.join(
                self.store.read("seen").select(
                    "seed_id", F.col("deal_url_id").alias("_dk")),
                ["seed_id", "_dk"],
                "left_anti",
            ).drop("_dk")
        return batch_first.drop("_dk")

    # ------------------------------------- parked-registry spill (derive mode)

    def _spill_parked(self) -> None:
        """One-time transition dict → derive mode: the current registry
        becomes pending rows committed to "parkreg" at this wave's end;
        the driver dict is dropped.  From then on the registry lives in
        the store and all maintenance is DataFrame ops."""
        rows = [(k, int(s), int(p))
                for (s, p), ks in self._parked_disp.items() for k in ks]
        self._parked_spill_rows = rows
        self._parked_disp = {}
        self._parked_derive = True

    def _parked_size(self) -> int:
        return sum(len(v) for v in self._parked_disp.values())

    def _parked_view(self) -> DataFrame:
        """Derive-mode registry as of NOW within the wave: the committed
        table minus pages whose group marker arrived this wave.
        Transition-wave state rides ``_parked_spill_rows`` instead (the
        table isn't committed yet)."""
        if self._parked_spill_rows is not None:
            pt = self.spark.createDataFrame(
                self._parked_spill_rows or
                [("", -1, -1)], model.PARKREG_SCHEMA)
            if not self._parked_spill_rows:
                pt = pt.filter(F.lit(False))
        else:
            pt = self.store.read("parkreg")
        if self._parked_removed:
            rm = self.spark.createDataFrame(
                sorted(self._parked_removed), "seed_id long, page_number long")
            pt = pt.join(F.broadcast(rm), ["seed_id", "page_number"],
                         "left_anti")
        # captcha-stop cancellation, the DF twin of the dict-mode
        # cleanup in _run_wave
        return self._apply_stop_filter(pt)

    def _commit_parked(self, wave: int, replaces: dict) -> None:
        """Fold this wave's deltas into the registry table replace:
        (committed − removed pages) ∪ ledger additions ∪ paused
        re-adds, stop-filtered.  Every delta is politeness-bounded;
        the union is one small job riding the wave commit."""
        if not self._parked_derive:
            return
        dirty = (self._parked_spill_rows is not None or self._parked_removed
                 or self._parked_readds or self._parked_add_df is not None)
        if not dirty:
            return
        parts = [self._parked_view()]
        if self._parked_add_df is not None:
            parts.append(self._parked_add_df.select(
                "key", "seed_id", "page_number"))
        if self._parked_readds:
            parts.append(self.spark.createDataFrame(
                self._parked_readds, model.PARKREG_SCHEMA))
        pt = parts[0]
        for p in parts[1:]:
            pt = pt.unionByName(p)
        replaces["parkreg"] = self._apply_stop_filter(
            pt.dropDuplicates(["seed_id", "page_number", "key"]))

    def _parked_wave_reset(self) -> None:
        if self._parked_add_df is not None:
            self._parked_add_df.unpersist()
        self._parked_add_df = None
        self._parked_removed = set()
        self._parked_readds = []
        self._parked_spill_rows = None

    def _seenx_usable(self) -> bool:
        """Exact-tier completeness gate: the sorted-run sidecar may be
        consulted only if EVERY committed seen append has a matching
        seenx append (same wave id in the committed dir name — both
        ride one atomic manifest publish, so a mid-wave crash can't
        split them).  A legacy store, a non-spool interlude, or a
        final-wave seen append (nothing was going to read it) fails
        the check; the exact leg then falls back to the anti-join and
        the next spool wave HEALS the sidecar with a full rebuild.

        Coverage rule: a seen wave is covered if its id appears among
        the seenx dirs OR is ≤ the OLDEST seenx dir's wave — a heal or
        invalidation rebuild commits with REPLACE semantics, so the
        oldest surviving seenx dir covered the whole seen table as of
        its commit (earlier seen waves included)."""
        if self._seenx_ok is None:
            def waves(name: str) -> set[int] | None:
                """Wave ids of the table's committed dirs; None if any
                dir has no parseable wave id — store.compact rewrites
                appends into 'c<version>-...' dirs and merge into
                'm...' dirs, which erase the pairing evidence.  seen
                must FAIL CLOSED on those (review-found: a compacted
                seen table made the gate vacuously true while seenx
                lacked the final wave's keys)."""
                out: set[int] = set()
                for d in self.store.table_paths(name):
                    base = os.path.basename(d)
                    if not base.startswith("w"):
                        return None
                    try:
                        out.add(int(base[1:].split("-", 1)[0]))
                    except ValueError:
                        return None
                return out
            sw, xw = waves("seen"), waves("seenx")
            # unparseable seenx dirs only ever ADD coverage, but the
            # conservative reading (treat as absent) is still correct
            self._seenx_ok = (sw is not None and xw is not None
                              and bool(xw) and all(
                                  w in xw or w <= min(xw) for w in sw))
        return self._seenx_ok

    def _seenx_update(self, new_seen: DataFrame, wave: int,
                      adopt: dict, adopt_replace: dict) -> None:
        """Maintain the exact-tier sorted-run sidecar for this wave's
        seen delta (spool mode): per-bucket sorted string runs written
        executor-side into scratch, committed by rename atomically with
        the seen append.  An incomplete sidecar (legacy store / mode
        switch) is healed here instead: one full rebuild from the
        committed seen table ∪ the delta, committed with REPLACE
        semantics.  Cost ∝ delta on the steady path, ∝ seen once on
        heal."""
        sx_spool = os.path.join(self.store.root, "scratch",
                                f"seenx-w{wave:05d}")
        key = F.concat_ws("|", F.col("seed_id"), F.col("deal_url_id"))
        delta = new_seen.select(key.alias("key"))
        # COMPACTION: runs accumulate one per bucket per wave and the
        # probe pays a searchsorted per run — on a 10^4-wave crawl the
        # per-probe run count would itself become the cost.  Past the
        # dir threshold the delta write becomes a full rebuild with
        # REPLACE semantics (the heal path below): one committed dir,
        # one run per bucket, cost ∝ seen once per interval — the
        # sidecar's analog of store.compact's file compaction.
        compacting = (len(self.store.table_paths("seenx"))
                      >= self.seenx_compact_dirs)
        if self._seenx_usable() and not compacting:
            seenidx.write_str_runs(delta, sx_spool, self.bloom_buckets,
                                   f"w{wave:05d}")
            adopt["seenx"] = sx_spool
        else:
            full = delta
            if self._seen_nonempty is not False:
                # unknown counts as nonempty: union with an empty seen
                # table is harmless, omitting a nonempty one is not
                full = self.store.read("seen").select(
                    key.alias("key")).unionByName(delta)
            seenidx.write_str_runs(full, sx_spool, self.bloom_buckets,
                                   f"heal-w{wave:05d}")
            adopt_replace["seenx"] = sx_spool
            self._seenx_ok = True

    def _bloom_exists(self) -> bool:
        """Any sidecar state to consult? (driver blobs in default mode,
        a committed blob table in spool mode)."""
        return bool(self._bloom) or bool(self.bloom_spool and self._bloom_nonempty)

    def _bloom_broadcast(self):
        """The driver-held blobs as a ``sc.broadcast`` handle, reshipped
        only when the sidecar actually changed (generation counter) and
        the previous generation's executor copies destroyed.  Broadcast
        moves the blob bytes through torrent-style distribution — one
        copy per EXECUTOR per generation — where the previous closure
        capture re-serialized them into every task of every wave, a
        per-task cost that grows with filter size (the 10^10 scale
        wall; see VERDICT r03 finding 2)."""
        if self._bloom_bc is not None and self._bloom_bc[0] == self._bloom_gen:
            return self._bloom_bc[1]
        if self._bloom_bc is not None:
            # waves are sequential — no job still references the old
            # generation when a new one is built
            self._bloom_bc[1].destroy()
        bc = self.spark.sparkContext.broadcast(
            {b: f.to_bytes() for b, f in (self._bloom or {}).items()})
        self._bloom_bc = (self._bloom_gen, bc)
        return bc

    def _maybe_seen_udf(self):
        """The Bloom prefilter probe as a pandas UDF.  Default mode
        probes the sc.broadcast blobs; spool mode ships ONLY the blob
        table's committed directory list — each executor process loads
        the filters once per generation (bloom.load_spool_filters), so
        neither the driver nor any task closure ever carries filter
        bytes."""
        n_buckets = self.bloom_buckets
        if self.bloom_spool:
            dirs = tuple(sorted(self.store.table_paths("bloom")))

            @F.pandas_udf("boolean")
            def maybe_seen(keys: pd.Series) -> pd.Series:
                import numpy as np

                from cianparser_spark.engine.bloom import load_spool_filters

                local = load_spool_filters(dirs)
                arr = keys.to_numpy(dtype=object)
                bucket = pd.util.hash_array(
                    arr, hash_key="0123456789abcdef") % np.uint64(n_buckets)
                out = np.zeros(len(arr), dtype=bool)
                for b, f in local.items():
                    mask = bucket == b
                    if mask.any():
                        out[mask] = f.contains(arr[mask])
                return pd.Series(out)

            return maybe_seen

        bc = self._bloom_broadcast()
        _state: dict = {}

        @F.pandas_udf("boolean")
        def maybe_seen(keys: pd.Series) -> pd.Series:
            import numpy as np

            from cianparser_spark.engine.bloom import BloomFilter as BF

            # bc.value deserializes the broadcast ONCE per executor;
            # the zero-copy filter views are additionally cached per
            # task so Arrow batches skip even the view construction.
            local = _state.get("f")
            if local is None:
                local = _state["f"] = {
                    b: BF.from_bytes_ro(raw) for b, raw in bc.value.items()}
            arr = keys.to_numpy(dtype=object)
            bucket = pd.util.hash_array(
                arr, hash_key="0123456789abcdef") % np.uint64(n_buckets)
            out = np.zeros(len(arr), dtype=bool)
            for b, f in local.items():
                mask = bucket == b
                if mask.any():
                    out[mask] = f.contains(arr[mask])
            return pd.Series(out)

        return maybe_seen

    def _merge_bloom_keys(self, key_list: list[str]) -> tuple:
        """Merge already-collected ``seed|deal_url_id`` keys into the
        driver's Bloom buckets — zero Spark jobs.  The per-wave key
        list is politeness-bounded; callers feed it from an
        ``Observation`` riding the seen-table write, so maintaining the
        sidecar costs no extra job at all on wave-bound crawls."""
        import numpy as np

        merged = self._bloom
        if key_list:
            self._bloom_gen += 1
            keys = np.array(key_list, dtype=object)
            bucket = pd.util.hash_array(
                keys, hash_key="0123456789abcdef") % np.uint64(self.bloom_buckets)
            for b in np.unique(bucket):
                bf = merged.get(int(b))
                if bf is None:
                    bf = merged[int(b)] = BloomFilter(self.bloom_bits)
                bf.add(keys[bucket == b])
        return ([(b, f.to_bytes()) for b, f in sorted(merged.items())],
                model.BLOOM_SCHEMA)

    def _update_bloom(self, seen_new: DataFrame) -> tuple:
        """Merge this wave's accepted keys into fixed-size per-bucket
        Bloom blobs.  Partial filters are built per bucket with
        applyInPandas (UDAF-shaped), then OR-merged driver-side —
        blobs are small and fixed-size by construction.

        Small waves (≤ 20k keys — politeness-bounded crawls) never get
        here: ``_run_wave`` collects their keys on the seen write's
        Observation and calls ``_merge_bloom_keys``.  Bucket hashing is
        the SAME ``pd.util.hash_array`` expression the query-side
        prefilter uses — a mismatch would send lookups to the wrong
        bucket and turn false-positives into false NEGATIVES."""
        partial = (
            seen_new.withColumn(
                "bucket", self._bucket_udf()(
                    F.concat_ws("|", F.col("seed_id"), F.col("deal_url_id")))
            )
            .groupBy("bucket")
            .applyInPandas(self._bucket_build_fn(), "bucket long, blob binary")
            .collect()
        )
        merged = self._bloom
        self._bloom_gen += 1
        for r in partial:
            b = int(r["bucket"])
            incoming = BloomFilter.from_bytes(bytes(r["blob"]))
            have = merged.get(b)
            if have is None:
                merged[b] = incoming
            elif have.n_bits == incoming.n_bits:
                have.bits |= incoming.bits
            else:
                # operator retuned bloom_bits on a resumed store:
                # per-bucket filters are self-describing so MIXED
                # geometries probe fine, but same-bucket blobs cannot
                # OR.  SATURATE the bucket (all maybe-seen → exact
                # anti-join) — bloom ⊇ seen holds trivially; the
                # bucket's prefilter win is lost until a rebuild
                # (invalidate_and_recrawl) restores it.  Never a
                # crash, never a false negative.
                sat = BloomFilter(incoming.n_bits, incoming.n_hashes)
                sat.bits[:] = 0xFF
                merged[b] = sat
        rows = [(b, f.to_bytes()) for b, f in sorted(merged.items())]
        # (rows, schema) = WaveStore local-write path: the merged blobs
        # live on the driver already; a Spark job to write them is pure
        # per-wave overhead (an empty rows list clears the table)
        return (rows, model.BLOOM_SCHEMA)

    def _bucket_udf(self):
        """Bucket routing for the string seen-key — the SAME
        ``pd.util.hash_array`` expression the probe uses (build and
        probe must share one routing function; a mismatch would turn
        false-positives into false NEGATIVES)."""
        import numpy as np

        n_buckets = self.bloom_buckets

        @F.pandas_udf("long")
        def bucket_of(keys: pd.Series) -> pd.Series:
            arr = keys.to_numpy(dtype=object)
            return pd.Series(
                (pd.util.hash_array(arr, hash_key="0123456789abcdef")
                 % np.uint64(n_buckets)).astype("int64"))

        return bucket_of

    def _bucket_build_fn(self):
        """applyInPandas kernel: one fixed-size partial filter per
        bucket group, built from that group's seen keys."""
        n_bits = self.bloom_bits

        def build(pdf: pd.DataFrame) -> pd.DataFrame:
            bf = BloomFilter(n_bits)
            keys = (pdf["seed_id"].astype(str) + "|"
                    + pdf["deal_url_id"]).to_numpy(dtype=object)
            if len(keys):
                bf.add(keys)
            return pd.DataFrame({"bucket": [int(pdf["bucket"].iloc[0])],
                                 "blob": [bf.to_bytes()]})

        return build

    def _stored_bloom_bits(self) -> int | None:
        """``n_bits`` of the committed sidecar's first blob (header
        peek: one pyarrow batch of ONE row, never the whole blob
        column), or None when no sidecar is committed.  Checked at
        most once per run (``bloom_bits`` is fixed for the engine's
        lifetime and every wave after the first writes the configured
        geometry), so the driver touches blob bytes O(1) times, not
        per wave."""
        if getattr(self, "_stored_bits_cache", False) is not False:
            return self._stored_bits_cache
        import pyarrow.parquet as pq

        from cianparser_spark.engine.bloom import blob_n_bits

        found = None
        for d in self.store.table_paths("bloom"):
            for fname in sorted(os.listdir(d)):
                if not fname.endswith(".parquet"):
                    continue
                pf = pq.ParquetFile(os.path.join(d, fname))
                for batch in pf.iter_batches(batch_size=1,
                                             columns=["blob"]):
                    if batch.num_rows:
                        found = blob_n_bits(batch.column(0)[0].as_py())
                        break
                if found is not None:
                    break
            if found is not None:
                break
        self._stored_bits_cache = found
        return found

    def _update_bloom_spark(self, seen_new: DataFrame,
                            fresh: bool = False) -> DataFrame:
        """SPOOL-mode sidecar merge, fully executor-side: partial
        per-bucket filters from this wave's keys UNION the committed
        blob table, OR-merged per bucket with applyInPandas
        (bloom.or_merge_blob_group — the single definition of the blob
        merge), returned as the replacement blob DataFrame (WaveStore
        writes it with a Spark job).  The driver schedules two stages
        and holds zero blob bytes — per-wave driver time is flat in
        filter size, the executor-side cost is one bounded exchange of
        O(buckets × blob) rows.  ``fresh=True`` rebuilds from scratch
        (re-crawl invalidation) instead of merging the old table.

        A resumed store whose committed blobs were built at a
        DIFFERENT ``bloom_bits`` (operator retuned the filter) cannot
        OR-merge — the sidecar is REBUILT from the exact seen table
        instead (old ∪ new keys), which preserves the bloom ⊇ seen
        safety invariant at the cost of one seen-table pass."""
        from cianparser_spark.engine.bloom import or_merge_blob_group

        merge_prev = not fresh and bool(self._bloom_nonempty)
        if merge_prev:
            stored = self._stored_bloom_bits()
            if stored is not None and stored != self.bloom_bits:
                # geometry changed: rebuild from ALL seen keys (the
                # committed table + this wave's delta); never OR
                # mismatched blobs (bloom.or_merge_blob_group would
                # refuse anyway — false negatives otherwise).  The
                # rebuild writes the configured geometry, so later
                # waves merge normally (cache updated).
                seen_new = self.store.read("seen") \
                    .select("seed_id", "deal_url_id") \
                    .unionByName(seen_new.select("seed_id", "deal_url_id"))
                merge_prev = False
                self._stored_bits_cache = self.bloom_bits
        partial = (
            seen_new.withColumn(
                "bucket", self._bucket_udf()(
                    F.concat_ws("|", F.col("seed_id"), F.col("deal_url_id")))
            )
            .groupBy("bucket")
            .applyInPandas(self._bucket_build_fn(), "bucket long, blob binary")
        )
        if not merge_prev:
            return partial
        return (
            self.store.read("bloom").unionByName(partial)
            .groupBy("bucket")
            .applyInPandas(or_merge_blob_group, "bucket long, blob binary")
        )
