"""Wave-scheduled distributed crawl engine.

Executes the reference's sequential crawl semantics
(reference: cianparser/cianparser.py:60-90) as driver-orchestrated
micro-batch waves over snapshot-committed tables:

  frontier scan → politeness budget selection (salted two-phase
  groupBy-host — kills the single-domain skew) → fused fetch+parse
  (mapInPandas, Arrow) → per-seed ordered finalization (watermarks)
  → first-wins dedup (in-batch keep-first, then the exact seen-set
  tier: an anti-join against ``seen``)
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
the stop map and host debt live in driver memory and are rebuilt from
the committed snapshot on resume.  The parked-placeholder registry
(duplicate keys that hold back a dead key's resurrection) is not kept
at all: each wave derives it from the pending detail-group frontier
rows (``CrawlEngine._parked_keys``).  Seen-set membership is answered
in two places: ``CrawlEngine._exact_unseen`` anti-joins DataFrame rows
(the wave's cards and the detail-key ledger) against ``seen``, and
``_resolve_paused`` semi-joins ``seen`` (plus this wave's emissions)
against the driver-held paused blocker keys.  Every driver-held lookup
table reaches Spark through one helper, ``CrawlEngine._lookup``.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cianparser_spark.corpus import webgen
from cianparser_spark.engine import columnar, model
from cianparser_spark.engine.stage import make_fetch_parse
from cianparser_spark.engine.store import WaveStore
from cianparser_spark.semantics import robots
from cianparser_spark.semantics.simulator import CrawlSeed

MAX_ATTEMPTS = 3  # (reference: cianparser/cianparser.py:73)
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
# In-batch keep-first (_dedup): waves up to this many card rows pick
# winners with a broadcast semi-join, bigger ones with a min_by
# aggregate.
_DEDUP_BROADCAST_ROWS = 100_000


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        run_dir: str,
        seeds: list[CrawlSeed],
        web_cfg: webgen.WebConfig = webgen.DEFAULT_CONFIG,
        host_tokens: int = 64,
        respect_robots: bool = True,
        verbose: bool = False,
        bloom_spool: bool = False,
    ):
        self._cg_saved: tuple | None = None
        self.spark = spark
        self.seeds = seeds
        self.web_cfg = web_cfg
        self.host_tokens = host_tokens
        # ``bloom_spool`` has no effect: seen-set membership
        # (_exact_unseen) has one tier, an anti-join against ``seen``.
        # The keyword and the False attribute stay because the crawl
        # benchmark (perfbench/) still passes and reads them.
        self.bloom_spool = False
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
        self._seen_nonempty: bool | None = None
        self._staged_nonempty: bool | None = None
        self._next_pending: int | None = None
        self.respect_robots = respect_robots
        # page-coupled detail scheduler state (detail-mode seeds only):
        # paused group walks keyed (seed_id, page_number) and the list
        # pages' retry-burn counters that seed each group's budget —
        # both bounded by the fault/duplicate rate, not crawl size.
        # Placeholders parked in dispatched, not-yet-run groups are not
        # held here: they are read off the frontier (_parked_keys).
        self._paused: dict[tuple[int, int], dict] | None = None
        self._paused_dirty = False
        self._page_burn: dict[tuple[int, int], int] = {}
        self._ks_nonempty: bool = False

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
        # over-budget hosts are ranked; the rest are selected outright
        df = self._lookup(df, [(h,) for h in over], "host string", mark="_over")
        ranked = self._select_budget_windows(
            df.filter(F.col("_over")).drop("_over"), debt, first_rows)
        if len(over) == len(demand):
            return ranked, False, None, n_blocked
        in_budget = df.filter(~F.col("_over")) \
            .withColumn("_selected", F.lit(True)).drop("_cost", "_krank", "_over")
        return in_budget.unionByName(ranked), False, None, n_blocked

    def _select_budget_windows(self, df: DataFrame, debt: dict[str, int],
                               first_rows: list[tuple]) -> DataFrame:
        """Exact two-phase salted selection for over-budget hosts."""
        df = self._lookup(df, sorted(debt.items()), "host string", "_debt long")
        budget = F.lit(self.host_tokens) - F.coalesce(F.col("_debt"), F.lit(0))
        df = df.withColumn("_budget", F.greatest(budget, F.lit(0)))

        order_cols = ("page_number", "_krank", "seed_id", "card_index", "url")
        order = [F.col(c) for c in order_cols]
        # min-one progress guarantee: a host's FIRST-priority row is
        # selected even when its cost alone exceeds the budget — a
        # detail GROUP's sequential page walk is atomic (cost =
        # 2 × cards), so without this a small token budget would defer
        # it forever.  The per-host first-row keys ride the demand
        # aggregate the caller already collected (``first_rows``), so
        # this is a lookup of driver rows, NOT a second aggregate job
        # (and NOT a global per-host window, which would un-do the
        # salting and sort every over-budget host's rows).  The mark is
        # never null: ``~_selected`` below would drop deferred rows.
        df = self._lookup(
            df, first_rows,
            "host string, page_number long, _krank int, seed_id long, "
            "card_index long, url string", mark="_is_first")
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
        ).drop("_cost", "_krank", "_salt", "_cum1", "_cum2", "_budget", "_debt",
               "_is_first")

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

    def _detail_ledger(self, wave: int, ks_delta: list[tuple],
                       emitted_keys_df: DataFrame | None,
                       need_detail: DataFrame | None,
                       deferred_groups: DataFrame | None):
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

        ``deferred_groups`` are this wave's pending detail-group rows
        that were not selected (None when there are none): with the
        paused rests they hold every parked placeholder
        (``_parked_keys``).

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
                ks_live = self._exact_unseen(ks_live, "key")
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
            j = self._lookup(j, paused_parked, "seed_id long, _k string",
                             mark="_blk")
            if deferred_groups is not None:
                # plain join: the registry is backlog-bounded, and the
                # planner broadcasts it while it fits
                reg = (self._parked_keys(deferred_groups)
                       .select("seed_id", F.col("key").alias("_k"))
                       .distinct().withColumn("_reg", F.lit(True)))
                j = (j.join(reg, ["seed_id", "_k"], "left")
                     .withColumn("_blk", F.col("_blk") | F.col("_reg").isNotNull())
                     .drop("_reg"))
            w = Window.partitionBy("seed_id", "_k").orderBy("page_number", "card_index")
            j = (j.withColumn("_rk", F.row_number().over(w))
                 .withColumn("_win", (F.col("_rk") == 1)
                             & (F.col("_st").isNull()
                                | ((F.col("_st") == "dead") & ~F.col("_blk"))))
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
            grp = self._lookup(
                grp, [(sid, *rt["template"].split("{}", 1),
                       rt["template"].split("/")[2])
                      for sid, rt in self.runtimes.items()],
                "seed_id long", "prefix string, suffix string, host string")
            grp = self._lookup(
                grp, [(sid, pn, b) for (sid, pn), b in self._page_burn.items()],
                "seed_id long, page_number long", "_burn long")
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
                        emitted_keys_df: DataFrame | None,
                        pending_groups: DataFrame | None):
        """Advance paused group walks: drop placeholders whose winner
        emitted, resurrect leading placeholders whose key died
        elsewhere (earliest-page-first, preserving the reference's
        sequential claim order), and re-dispatch every walk whose
        leading card became decidable.  Tiny lookup jobs, bounded by
        the number of parked keys.  ``pending_groups`` are the detail
        groups dispatched to the next wave so far (deferred ones and
        this wave's new ones; None when there are none).

        Returns (continuations_frontier_df | None, ks_conversion_rows)."""
        if not self._paused:
            return None, []
        b_keys = sorted({(sid, c["k"])
                         for (sid, _pn), st in self._paused.items()
                         for c in st["rest"] if c.get("d")})
        emitted: set = set()
        ksmap: dict = {}
        if b_keys:
            # seen-set membership of a driver-held key list, the one
            # answer outside _exact_unseen: the seen table (and this
            # wave's emissions) is semi-joined against the keys
            seen_srcs = []
            if self._seen_nonempty:
                seen_srcs.append(self.store.read("seen").select(
                    "seed_id", F.col("deal_url_id").alias("key")))
            if emitted_keys_df is not None:
                seen_srcs.append(emitted_keys_df)
            if seen_srcs:
                s = seen_srcs[0]
                for p in seen_srcs[1:]:
                    s = s.unionByName(p)
                hits = self._lookup(s, b_keys, "seed_id long, key string",
                                    how="left_semi") \
                    .select("seed_id", "key")
                emitted = {(int(r["seed_id"]), r["key"]) for r in hits.collect()}
            if self._ks_nonempty:
                ks = self._lookup(self.store.read("keystate"), b_keys,
                                  "seed_id long, key string", how="left_semi")
                for r in (ks.groupBy("seed_id", "key")
                          .agg(F.max_by(F.struct("state", "consumed"), "ver").alias("_s"))
                          .select("seed_id", "key", "_s.state", "_s.consumed")
                          .collect()):
                    ksmap[(int(r["seed_id"]), r["key"])] = (r["state"], int(r["consumed"]))
            for (sid, k, _u, cons, st, _v) in ks_delta:
                ksmap[(sid, k)] = (st, int(cons))

        # earliest parked occurrence per key — a dead key resurrects at
        # its minimum parked page (pending groups ∪ paused rests),
        # preserving the reference walk's claim order.  Only paused
        # blocker keys are ever consulted, so the collect is bounded
        # by the paused-rest count.
        parked_min: dict = {}
        if b_keys and pending_groups is not None:
            pv = self._lookup(self._parked_keys(pending_groups), b_keys,
                              "seed_id long, key string", how="left_semi")
            for r in (pv.groupBy("seed_id", "key")
                      .agg(F.min("page_number").alias("mn")).collect()):
                parked_min[(int(r["seed_id"]), r["key"])] = int(r["mn"])
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
        cont_df = (self.spark.createDataFrame(cont_rows, model.FRONTIER_SCHEMA)
                   if cont_rows else None)
        return cont_df, conv_rows

    def _parked_keys(self, groups: DataFrame) -> DataFrame:
        """The parked-placeholder registry of pending detail-group
        frontier rows, as (seed_id, page_number, key): each group's
        duplicate placeholders ("d") whose key has no winning card in
        that same group, minus stopped seeds' cancelled groups.  A dead
        key must not resurrect at a later occurrence while an earlier
        duplicate is parked here.  A group holding such a placeholder
        always pauses or dies when it runs (its walk cannot decide a
        foreign winner), so its frontier row is the registry entry
        until then: nothing is kept on the driver or in another table."""
        cards = F.from_json(
            "card_json", "cards array<struct<k: string, d: int>>")["cards"]

        def is_ph(c):
            return F.coalesce(c["d"], F.lit(0)) != 0

        ph = F.transform(F.filter(cards, is_ph), lambda c: c["k"])
        won = F.transform(F.filter(cards, lambda c: ~is_ph(c)), lambda c: c["k"])
        return self._apply_stop_filter(groups.select(
            "seed_id", "page_number",
            F.explode(F.array_except(ph, won)).alias("key")))

    # ------------------------------------------------------------- helpers

    def _lookup(self, df: DataFrame, rows: list[tuple], keys: str,
                values: str = "", *, how: str = "left",
                mark: str | None = None) -> DataFrame:
        """Join driver-held ``rows`` onto ``df`` — the one place the
        engine turns a driver dict/set into Spark.

        ``rows`` are tuples laid out as the DDL ``keys`` (the join
        columns, named as in ``df``) followed by ``values``; they must
        be unique on the keys.  Three shapes:

        * ``values``: add the value columns, null where the key is
          absent;
        * ``mark=name``: add boolean ``name``, True where the key is
          present and False (never null) where it is absent;
        * ``how="left_semi"``/``"left_anti"``: keep the rows of ``df``
          whose key is / is not present.

        Small tables (watermarks, retry-burn counters, parked keys,
        per-host first-priority rows, seed templates, over-budget
        hosts, 429 debt, captcha stops, invalidated pages) become plan
        literals — one ``create_map`` per value column, an ``isin`` on
        the ``\\x1f``-joined key for marks and filters — instead of a
        createDataFrame + broadcast join: every broadcast of a
        driver-row table costs a separate broadcast-build job
        (~0.25-0.3 s of scheduling on tiny waves) plus a py4j
        createDataFrame round trip, and at a handful of such joins per
        wave that overhead is what caps politeness-wave throughput.
        Past ``columnar.LIT_LOOKUP_MAX`` rows (the plan-literal blowup
        limit, NOT a data limit) the rows are broadcast-joined, the
        right physical plan at 10^6-seed scale.  Empty rows always take
        the literal side: no job runs."""
        names = [f.split()[0] for f in keys.split(",")]
        if len(rows) <= columnar.LIT_LOOKUP_MAX:
            joined = F.concat_ws("\x1f", *names)
            lits = ["\x1f".join(map(str, r[:len(names)])) for r in rows]
            if values:
                key, ks = ((F.col(names[0]), [r[0] for r in rows])
                           if len(names) == 1 else (joined, lits))
                for i, (name, typ) in enumerate(
                        (f.split() for f in values.split(",")), len(names)):
                    pairs = [x for k, r in zip(ks, rows)
                             for x in (F.lit(k), F.lit(r[i]))]
                    df = df.withColumn(name, F.element_at(
                        F.create_map(*pairs), key).cast(typ)
                        if pairs else F.lit(None).cast(typ))
                return df
            hit = joined.isin(lits) if rows else F.lit(False)
            if mark:
                return df.withColumn(mark, hit)
            return df.filter(hit if how == "left_semi" else ~hit)
        bdf = self.spark.createDataFrame(
            rows, ", ".join(p for p in (keys, values) if p))
        if mark:
            return df.join(F.broadcast(bdf.withColumn(mark, F.lit(True))),
                           names, "left") \
                .withColumn(mark, F.coalesce(F.col(mark), F.lit(False)))
        return df.join(F.broadcast(bdf), names, how)

    def _apply_stop_filter(self, df: DataFrame, page_col="page_number") -> DataFrame:
        """Drop rows of stopped seeds at/beyond their captcha page."""
        if not self._stopped:
            return df
        return (self._lookup(df, sorted(self._stopped.items()),
                             "seed_id long", "_stop long")
                .filter(F.col("_stop").isNull() | (F.col(page_col) < F.col("_stop")))
                .select(*df.columns))

    def _stop_ok(self, sid: int, page: int) -> bool:
        p = self._stopped.get(sid)
        return p is None or page < p

    # ------------------------------------------------------------ main loop

    def run(self, max_waves: int = 10_000) -> DataFrame:
        if self.store.last_wave() < 0:
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

        Deletes rewrite the seen and offers tables (REPLACE commits),
        so this method costs O(seen), not O(invalidated keys).  Offers
        first seen on OTHER pages keep their seen keys, so a re-crawl
        never duplicates them.

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
        page_rows = sorted(set(pages))
        page_keys = "seed_id long, page_number long"
        offers_cur = self.store.read("offers")
        invalid_keys = self._lookup(
            offers_cur, page_rows, page_keys, how="left_semi").select(
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
        self.store.commit_wave(
            marker,
            appends={"frontier": self.spark.createDataFrame(rows, model.FRONTIER_SCHEMA)},
            replaces={
                "offers": self._lookup(offers_cur, page_rows, page_keys,
                                       how="left_anti"),
                "seen": new_seen,
            },
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
        spool = os.path.join(self.store.root, "scratch", f"stage-w{wave:05d}")
        # The wave's first-wins dedup is MAP-ONLY: partition the NARROW
        # frontier by seed_id (politeness bounds each seed's per-wave
        # volume, so partitions are budget-bounded by construction),
        # sort within partitions by (seed_id, page_number) and let the
        # fetch kernel drop in-wave duplicate keys with a local seen-set
        # (stage.card_dedup_key): "first key wins in per-seed page
        # order".  The wide rows then go kernel → columnar widen →
        # spool write in ONE map-side stage: zero wide shuffle, no AQE
        # barrier.  The only shuffle is the tiny narrow-frontier
        # repartition.
        #
        # card count + mean price observed DURING the spool write (no
        # separate aggregate job) — consumed by the cold-start adopt
        # path, where the spool's card partition IS the accepted set
        obs_spool = Observation(f"spool-w{wave}")
        is_card = F.col("row_type") == "card"
        raw = (
            selected.repartition(max(1, min(4 * dp, len(self.runtimes))), "seed_id")
            .sortWithinPartitions("seed_id", "page_number", "card_index")
            .mapInPandas(
                make_fetch_parse(self.runtimes, self.web_cfg, in_wave_dedup=True,
                                 respect_robots=self.respect_robots),
                model.RAW_STAGE_SCHEMA)
        )
        (
            columnar.widen(raw, self._seed_dim())
            .observe(obs_spool,
                     F.count(F.when(is_card, 1)).alias("n_cards"),
                     F.avg(F.when(is_card, F.coalesce("price", "price_per_month")))
                     .alias("avg_price"))
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
        if self._stopped and self._paused:
            # paused walks of stopped seeds are cancelled: they never
            # run again, so no marker will ever clear them — purge here
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
                    and not self._stopped and not self._seen_nonempty)
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
                    staged = self._lookup(staged, list(wm.items()),
                                          "seed_id long", "wm long")
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
                # fetch kernel's in-wave seen-set; the in-batch pass is
                # only re-run when staged leftovers from earlier waves
                # can collide
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
            # the selected groups ran (their markers came back above);
            # mstats tells at zero jobs whether any detail group was
            # deferred, so with none the registry is known empty
            deferred_groups = (
                deferred_df.filter(F.col("kind") == "detail")
                if any(not r["_selected"] and r["kind"] == "detail"
                       for r in mstats) else None)
            groups_df, ks_replace = self._detail_ledger(
                wave, ks_delta, emitted_keys_df, need_detail, deferred_groups)
            if groups_df is not None:
                frontier_parts.append(groups_df)
            pending_groups = deferred_groups
            if groups_df is not None:
                pending_groups = (groups_df if pending_groups is None
                                  else pending_groups.unionByName(groups_df))
            cont_df, conv_rows = self._resolve_paused(
                wave, ks_delta, emitted_keys_df, pending_groups)
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
            # same write-once + adopt pattern as the frontier
            seen_spool = os.path.join(self.store.root, "scratch", f"seen-w{wave:05d}")
            obs_seen = Observation(f"seen-w{wave}")
            seen_df.observe(obs_seen, F.count(F.lit(1)).alias("n")) \
                .write.mode("overwrite").parquet(seen_spool)
            n_seen = int(obs_seen.get["n"])
            if n_seen:
                adopt["seen"] = seen_spool

        if fr_thread is not None:
            # join the frontier spool write: the paused deadlock
            # invariant below and the next wave's exec mode need its count
            fr_thread.join()
            if "err" in fr_box:
                raise fr_box["err"]
            n_frontier_next = fr_box.get("n", 0)
            if n_frontier_next:
                adopt["frontier"] = fr_spool
            self._tick("frontier_count")
        if self._paused and not n_frontier_next:
            # cannot happen: every paused walk blocks on a key whose
            # winning occurrence sits in a dispatched or earlier-paused
            # group, and blocking edges point strictly backward in
            # (page, card) order — the chain always bottoms out at a
            # dispatchable group
            raise RuntimeError(
                f"paused detail groups deadlocked: {sorted(self._paused)}")
        self.store.commit_wave(wave, appends=appends, replaces=replaces,
                               adopt=adopt)
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
        then the exact seen-set tier (``_exact_unseen``'s anti-join;
        A1/J4 in SURVEY.md §2.6).

        Keep-first never shuffles the wide card rows when it can avoid
        it: winner selection runs on FOUR narrow columns
        (seed_id, deal_url_id, page_number, card_index) — a min-struct
        hash aggregate with map-side partial aggregation — and the wide
        rows are then kept by a broadcast left-semi join on the winning
        (seed_id, page_number, card_index), which uniquely identifies
        one card.  Broadcast pays a serial driver-side hash-relation
        build, so it only wins for politeness-bounded waves
        (≲10^5 cards); above ``_DEDUP_BROADCAST_ROWS`` a ``min_by`` hash
        aggregate carrying the whole row through one shuffle — still no
        sort (a window would shuffle the same rows AND sort every
        partition to keep only the minimum).  Both paths are
        deterministic: (page_number, card_index) is unique per
        (seed_id, deal_url_id) group.

        Null deal_url_id keys as the literal "-1" in every path (group
        keys, seen table) — the reference's extractor
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
            # caller guarantees in-batch uniqueness (the fetch kernel
            # already kept first per key this wave); only the
            # seen-set membership check below applies
            batch_first = finalize
        elif approx_rows <= _DEDUP_BROADCAST_ROWS:
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

        if self._seen_nonempty:
            batch_first = self._exact_unseen(batch_first, "_dk")
        return batch_first.drop("_dk")

    def _exact_unseen(self, df: DataFrame, key_col: str) -> DataFrame:
        """Rows of ``df`` whose ``(seed_id, key_col)`` is NOT in the
        committed seen set — the exact tier: an anti-join against
        ``seen``."""
        return df.join(
            self.store.read("seen").select(
                "seed_id", F.col("deal_url_id").alias(key_col)),
            ["seed_id", key_col], "left_anti")
