"""★ The crawl-frontier engine — the reference's event loop as DataFrame
epochs (SURVEY.md §3.1 "Spark equivalent").

Each epoch is one deterministic DataFrame round-trip over three state tables:

    frontier(url_hash, url_canon, host, path)
    seen(shard, url_hash)
    host_state(host, tokens, epoch)

pipeline per epoch (reference analog in parens):

    absorb    — canonicalize (proper_infohash, maga/utils.py:7-11) → in-batch
                dedup → anti-join seen (io_adapter.py:65-69) → robots gate
                (handshake gate, maga/downloader.py:71-81) → frontier append
    schedule  — XOR-distance priority vs hash-derived epoch target
                (find_node target, maga/crawler.py:203-205), salted per-host
                token-bucket grant (global 1 s sweep generalized per-host),
                global top-K over uniform hash-range buckets (operators.topk)
    fetch     — granted ⋈ links ⋈ images (the MockDownloader pattern,
                mock_downloader.py:31-44), Arrow-UDF payload validation
                (SHA-1 check analog, maga/downloader.py:91-103)
    commit    — new seen/frontier/host_state + ordering + metrics

Must match maga_spark.sim bit-for-bit (tests/test_parity.py). Scale notes:
state is hash-sharded on url_hash; the hot-host window is salted
(operators.topk); granted (≤ K rows) is always the broadcast side of the
fetch joins; the seen anti-join can run behind a per-shard cuckoo-filter
prefilter (operators.cuckoo.anti_join_cuckoo: one probe feeding one
anti-join, nothing cached) with identical results.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from maga_spark.crawlspec import CrawlConfig, epoch_target
from maga_spark.functions.payload import validate_payloads
from maga_spark.functions.scalar import url_parts, xor_dist
from maga_spark.operators.cuckoo import (
    CUCKOO_SCHEMA,
    anti_join_cuckoo,
    delete_from_shard_cuckoo,
    update_shard_cuckoo,
)
from maga_spark.operators.seen import anti_join_exact
from maga_spark.operators.observe import RobustObservation, obs_name
from maga_spark.plans.ckpt import local_ckpt, release
from maga_spark.session import spread_partitions
from maga_spark.operators.topk import global_topk_uniform_ranked, per_group_topk


@dataclass
class EngineResult:
    ordering: list = field(default_factory=list)  # (epoch, rank, url_canon)
    metrics: list = field(default_factory=list)
    seen_count: int = 0
    fetched_valid: int = 0
    fetched_invalid: int = 0


SEEN_MODES = ("exact", "cuckoo")  # identical results; cuckoo adds a prefilter


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        fixtures_dir: str,
        cfg: CrawlConfig = CrawlConfig(),
        seen_mode: str = "exact",  # one of SEEN_MODES
        snapshot_dir: str | None = None,
    ):
        if seen_mode not in SEEN_MODES:
            raise ValueError(f"seen_mode must be one of {SEEN_MODES}, got {seen_mode!r}")
        self.spark = spark
        self.cfg = cfg
        self.seen_mode = seen_mode
        self.snapshot_dir = snapshot_dir

        # static side tables: cache once, reused every epoch. Spread to the
        # session's parallelism first (guide §2.5 input skew): a one-row-
        # group fixture file caches as ONE partition otherwise, so every
        # epoch's fetch join + out_links explode would run on a single task
        # with the other cores idle. One shuffle at init, paid once.
        self.links, self.images, self.truth = (
            spread_partitions(spark.read.parquet(f"{fixtures_dir}/{name}.parquet")).persist()
            for name in ("links", "images", "images_truth")
        )
        self.politeness = spark.read.parquet(f"{fixtures_dir}/politeness.parquet")
        robots = spark.read.parquet(f"{fixtures_dir}/robots.parquet")
        self.robots_agg = robots.groupBy("host").agg(
            F.collect_list("disallow_prefix").alias("prefixes")
        )
        # Host-keyed state (politeness / robots_agg / host_state) is bounded
        # by the DISTINCT HOST count, not the URL universe — but that bound
        # is only broadcast-sized for fixture-shaped host counts. The real
        # web is ~10^8 hosts; forcing a broadcast there pushes multi-GB
        # through the driver to every executor (VERDICT r3 #1). The host
        # joins therefore carry NO broadcast hint: AQE chooses from runtime
        # sizes — it still auto-broadcasts small host tables, and the 16M
        # A/B measured a forced hint a dead heat even at fixture host
        # counts (BENCH.md).

        empty = spark.createDataFrame
        self.frontier = empty([], "url_hash long, url_canon string, host string, path string")
        self.seen = empty([], "shard int, url_hash long")
        self.host_state = empty([], "host string, tokens int, epoch int")
        # cuckoo mode: per-shard filter rows are ENGINE STATE, grown
        # incrementally (update_shard_cuckoo) and checkpointed with the
        # other tables — never rebuilt from the full seen set, never
        # driver-collected. The table also supports key DELETION
        # (operators/cuckoo.py) — the re-crawl primitive of expire_urls.
        self.cuckoo = empty([], CUCKOO_SCHEMA)
        # absorb input of the next epoch: the seed list, then each epoch's
        # discoveries (streaming_crawl unions its batches in)
        self._pending = spark.read.parquet(f"{fixtures_dir}/seeds.parquet").select("url")
        self._epoch_temps: list[DataFrame] = []  # the epoch's persists, released after commit
        # the CURRENT generation of state checkpoints, released when the
        # next _commit_state supersedes them (see there)
        self._state_ckpts: list[DataFrame] = []
        self._start_epoch = 0

    # ---------- epoch stages ----------

    def _absorb(self, raw: DataFrame, epoch: int) -> RobustObservation:
        """Canonicalize → dedup → anti-join seen → robots gate → append.

        Returns a RobustObservation carrying the enqueued/blocked counts — the
        counts ride the first job that materializes ``new`` (a state
        checkpoint) instead of costing a dedicated
        driver-serial ``groupBy().collect()`` per epoch (the round-1 serial
        floor, BENCH.md)."""
        cfg = self.cfg
        hashed = (
            raw.select(url_parts("url").alias("p"))  # ONE regex pass / row
            .select("p.url_canon", "p.host", "p.path")
            .filter(F.col("url_canon").isNotNull())
            .withColumn("url_hash", F.xxhash64("url_canon"))
            .dropDuplicates(["url_hash"])
        )
        if self.seen_mode == "cuckoo":
            # only might-contain rows can match seen in the anti-join ⇒
            # identical results to exact mode. Explicit modulus: inferring
            # it from max(shard) misbuckets candidates when the top shard
            # happens to be unpopulated. self.cuckoo covers exactly the
            # committed seen set (the invariant below keeps them in
            # lockstep), so no rebuild here.
            anti = lambda c, s: anti_join_cuckoo(c, s, self.cuckoo, cfg.nshards)  # noqa: E731
        else:
            anti = anti_join_exact
        new = (
            anti(hashed, self.seen)
            .join(self.robots_agg, "host", "left")
            .withColumn(
                "blocked",
                F.coalesce(
                    F.exists("prefixes", lambda p: F.col("path").startswith(p)), F.lit(False)
                ),
            )
            .drop("prefixes")
        )
        obs = RobustObservation(
            obs_name("absorb", epoch, id(self)),
            new,
            F.coalesce(F.sum(F.when(~F.col("blocked"), 1).otherwise(0)), F.lit(0)).alias(
                "enqueued"
            ),
            F.coalesce(F.sum(F.when(F.col("blocked"), 1).otherwise(0)), F.lit(0)).alias(
                "blocked"
            ),
        )
        new = obs.df
        new = new.persist()  # absorb once; reused by seen/frontier unions
        self._epoch_temps.append(new)
        enq = new.filter(~F.col("blocked"))
        new_hashes = new.select(
            F.pmod("url_hash", F.lit(cfg.nshards)).cast("int").alias("shard"), "url_hash"
        )
        self.seen = self.seen.unionByName(new_hashes)
        if self.seen_mode == "cuckoo":
            # INVARIANT: the cuckoo tables cover exactly the same key set as
            # seen — probed BEFORE this point against S_{e-1}, updated here
            # with the same batch seen just absorbed (missing keys would be
            # false negatives → re-enqueued seen URLs → parity break)
            self.cuckoo = update_shard_cuckoo(
                self.cuckoo,
                new_hashes,
                nbuckets=cfg.cuckoo_nbuckets,
            )
        self.frontier = self.frontier.unionByName(
            enq.select("url_hash", "url_canon", "host", "path")
        )
        return obs

    def _schedule(self, epoch: int) -> tuple[DataFrame, dict]:
        """Priority + politeness + global budget → granted (with epoch_rank).

        ZERO driver actions (round-3): the round-2 path paid two
        driver-serial jobs here per epoch — the range partitioner's
        sampling pass and the top-K offsets collect. xor_d is uniform by
        construction (XOR of xxhash64), so ``global_topk_uniform_ranked``
        derives exact ranks from fixed hash-range buckets with the offsets
        computed in-plan. The returned ``stats`` dict is LAZY: it holds
        Observation handles that fire on the wave-1 commit jobs; ``run``
        reads them only after ``_commit_state`` (reading earlier would
        block forever — no job has scanned these plans yet)."""
        cfg = self.cfg
        # epoch + target enter as a broadcast 1-row table, NOT literals:
        # literal epochs make every epoch's generated code textually unique,
        # so whole-stage codegen recompiles the whole pipeline each epoch —
        # a driver-serial cost measured in BENCH.md. As columns, the code is
        # identical across epochs and the janino cache hits.
        epoch_df = self.spark.createDataFrame(
            [(epoch, epoch_target(epoch))], "cur_epoch int, cur_target long"
        )
        # SLIM ranking rows: url_canon/path never enter the scheduling
        # shuffles (2 windows + the top-K bucket window over frontier-sized
        # rows);
        # they are joined back onto the ≤global_k granted keys afterwards.
        # ~2.5× shuffle-byte reduction per epoch at 16M.
        cands = (
            self.frontier.select("url_hash", "host")
            .crossJoin(F.broadcast(epoch_df))
            .withColumn("xor_d", xor_dist(F.col("url_hash"), F.col("cur_target")))
            .join(self.politeness, "host", "left")
            .withColumn("rate", F.coalesce("rate_per_epoch", F.lit(cfg.default_rate)))
            .withColumn("burst", F.coalesce("burst", F.lit(cfg.default_burst)))
            .join(self.host_state.withColumnRenamed("epoch", "st_epoch"), "host", "left")
            .withColumn(
                "avail",
                F.least(
                    F.col("burst"),
                    F.when(
                        F.col("tokens").isNotNull(),
                        F.col("tokens") + F.col("rate") * (F.col("cur_epoch") - F.col("st_epoch")),
                    ).otherwise(F.col("rate") * (F.col("cur_epoch") + 1)),
                ).cast("int"),
            )
            .drop("rate_per_epoch", "tokens", "st_epoch", "cur_target")
        )
        # candidate count rides the wave-1 commit jobs that materialize the
        # granted chain — no dedicated .count() action
        cands_obs = RobustObservation(
            obs_name("cands", epoch, id(self)), cands, F.count(F.lit(1)).alias("n")
        )
        cands = cands_obs.df.persist()
        self._epoch_temps.append(cands)

        order = [F.col("xor_d").asc(), F.col("url_hash").asc()]
        eligible = per_group_topk(
            cands,
            ["host"],
            order,
            k=F.col("avail"),
            salt_key="url_hash",
            rank_name="host_rank",
        )
        # eligible count rides the same wave (n_granted = min(n_eligible, K)
        # analytically — the rank filter is exact)
        elig_obs = RobustObservation(
            obs_name("elig", epoch, id(self)), eligible, F.count(F.lit(1)).alias("n")
        )
        # persist: both the bucket-counts branch and the rank branch of the
        # uniform top-K scan eligible — uncached, the two windows above
        # would run twice
        eligible = elig_obs.df.persist()
        self._epoch_temps.append(eligible)

        # distributed global top-K + rank: xor_d is uniform (xxhash64 ^
        # target), so fixed hash-range buckets replace a sampled range
        # partitioner — no sampling job, no offsets collect (topk.py).
        # Ranks are exact for any key distribution; a concentrated xor_d
        # would only cost straggler time.
        granted = global_topk_uniform_ranked(
            eligible, order, cfg.global_k, uniform_key="xor_d", rank_name="epoch_rank"
        ).persist()
        self._epoch_temps.append(granted)

        # rejoin the canonical URL for fetch/ordering: granted is ≤ global_k
        # keys → broadcast-hash against the frontier, no frontier shuffle
        granted_full = self.frontier.join(
            F.broadcast(granted.select("url_hash", "xor_d", "epoch_rank")), "url_hash"
        ).select("url_hash", "url_canon", "host", "xor_d", "epoch_rank")
        granted_full = granted_full.persist()
        self._epoch_temps.append(granted_full)

        # token commit: every candidate host becomes dirty state at this epoch
        cand_hosts = cands.select("host", "avail", "cur_epoch").distinct()
        grants_by_host = granted.groupBy("host").agg(F.count("*").alias("n_g"))
        new_state = (
            cand_hosts.join(grants_by_host, "host", "left")
            .select(
                "host",
                (F.col("avail") - F.coalesce("n_g", F.lit(0))).cast("int").alias("tokens"),
                F.col("cur_epoch").alias("epoch"),
            )
        )
        self.host_state = self.host_state.join(
            cand_hosts.select("host"), "host", "left_anti"
        ).unionByName(new_state)
        # granted ≤ global_k rows of one int64 — broadcast the anti-join so
        # the (universe-sized) frontier is never shuffled for removal
        self.frontier = self.frontier.join(
            F.broadcast(granted.select("url_hash")), "url_hash", "left_anti"
        )

        # LAZY stats: no job has run yet this epoch — the observations fire
        # on the wave-1 commit (pending checkpoint materializes the granted
        # chain; seen checkpoint materializes `new`). run() resolves this
        # AFTER _commit_state; resolving earlier would block forever.
        return granted_full, {"_cands_obs": cands_obs, "_elig_obs": elig_obs}

    def _fetch(self, granted: DataFrame, epoch: int) -> tuple[DataFrame, RobustObservation]:
        """granted ⋈ links ⋈ images ⋈ truth → validate → discoveries.

        The valid-fetch count rides the discoveries checkpoint job as an
        Observation (round-1 ran a dedicated .count() action per epoch —
        part of the driver-serial floor)."""
        # AQE picks broadcast vs shuffle join from the ACTUAL granted size —
        # a forced broadcast would serialize 10^5-row grant sets through the
        # driver at bench scale
        matched = self.links.join(granted.select("url_canon"), "url_canon", "inner").persist()
        self._epoch_temps.append(matched)
        # validate each DISTINCT payload once (validation is a pure function
        # of the image), then broadcast the tiny verdict table back — never
        # ship pixel blobs per URL row through Arrow
        need = matched.select("image_id").distinct()
        payload = self.images.join(need, "image_id").join(self.truth, "image_id")
        expected_caption = F.format_string(
            "img %s %dx%d %s", F.col("image_id"), F.col("w"), F.col("h"), F.col("fmt")
        )
        verdicts = validate_payloads(payload, caption_expected=expected_caption).select(
            "image_id", "valid"
        )
        fetch_obs = RobustObservation(
            obs_name("fetch", epoch, id(self)),
            matched.join(F.broadcast(verdicts), "image_id", "left"),
            F.coalesce(
                F.sum(F.when(F.coalesce("valid", F.lit(False)), 1).otherwise(0)), F.lit(0)
            ).alias("n_valid"),
        )
        observed = fetch_obs.df
        # observe BEFORE the explode: empty out_links drop rows afterwards
        discoveries = observed.select(F.explode("out_links").alias("url"))
        return discoveries, fetch_obs

    def _commit_state(self, discoveries: DataFrame) -> None:
        """Inter-epoch lineage truncation: one localCheckpoint per state
        table, the four submitted CONCURRENTLY (independent DAGs — one
        scheduler wave instead of four serial jobs; round-1's sequential
        submission was the biggest slice of the per-epoch serial floor).
        A fused tagged-union single-job variant was measured 4× SLOWER at
        small scale — AQE turns the deep union-of-joins into sequential
        stage materializations — so four shallow concurrent jobs it is."""
        # Two dependency-aware waves, NOT one four-wide wave: Spark's block
        # manager does not block concurrent computation of the same cached
        # partition, so submitting all four at once makes frontier /
        # host_state / pending each re-derive the still-cold `granted`
        # cache (measured ~3× slower at local[1]). Since round 3 removed
        # the schedule-phase driver jobs, NOTHING pre-warms the epoch
        # caches before commit — so wave 1 is the pending checkpoint ALONE
        # (its lineage walks new → cands → eligible → granted →
        # granted_full → matched, materializing every shared cache exactly
        # once and firing all epoch Observations); wave 2's three jobs then
        # read only warm caches and run concurrently.
        # local_ckpt, NOT localCheckpoint: the raw checkpoint carries the
        # origin plan's size estimates, and because each epoch's plan joins
        # last epoch's state back in (frontier enters twice), the carried
        # BigInt compounds geometrically across epochs — a long loop OOMs
        # the driver just COMPUTING stats (plans/ckpt.py has the numbers)
        # Bound every state table's partition count at the checkpoint
        # boundary (guide §2.2: fewer, larger partitions). Without this the
        # per-epoch `ckpt(state) union delta` accretes +delta partitions
        # per epoch (seen reached 192 partitions by epoch 6 at bench
        # scale), so every downstream stage schedules an ever-growing task
        # wave whose per-task overhead is pure driver-serial floor — on
        # the long loops this engine targets, unbounded. coalesce() is
        # narrow (no shuffle), deterministic, and a no-op when the table
        # already has fewer partitions; the target tracks the session's
        # parallelism, never a constant.
        n_coal = self.spark.sparkContext.defaultParallelism
        self._pending = local_ckpt(discoveries.coalesce(n_coal))
        with ThreadPoolExecutor(max_workers=4) as ex:
            f_seen = ex.submit(local_ckpt, self.seen.coalesce(n_coal))
            f_frontier = ex.submit(local_ckpt, self.frontier.coalesce(n_coal))
            f_hosts = ex.submit(local_ckpt, self.host_state.coalesce(n_coal))
            f_cuckoo = (
                ex.submit(local_ckpt, self.cuckoo.coalesce(n_coal))
                if self.seen_mode == "cuckoo"
                else None
            )
            self.seen = f_seen.result()
            self.frontier = f_frontier.result()
            self.host_state = f_hosts.result()
            if f_cuckoo is not None:
                self.cuckoo = f_cuckoo.result()
        # Release the SUPERSEDED epoch-(e-1) state checkpoints, or a long
        # loop (streaming_crawl's epochs) holds one persisted RDD per state
        # table per epoch until the ContextCleaner happens to GC it. Safe:
        # the new checkpoints above are eager, and every recorded table was
        # re-checkpointed (exact mode's cuckoo is an RDD-less empty relation).
        release(*self._state_ckpts)
        cuckoo = self.cuckoo if self.seen_mode == "cuckoo" else None
        self._state_ckpts = [self._pending, self.seen, self.frontier, self.host_state, cuckoo]

    # ---------- the loop ----------

    def run(
        self,
        epochs: int | None = None,
        collect_ordering: bool = False,
    ) -> EngineResult:
        """``collect_ordering`` defaults to False (VERDICT r4 #3): it pulls
        every granted row of every epoch to the driver — fine for parity
        tests on fixtures, a driver OOM at global_k·epochs scale. The
        snapshot path (``snapshot_dir``) writes the SAME ordering
        distributed via commit_epoch, so production resume/audit never
        needs the driver copy; parity suites opt in explicitly.

        Observation survival: AQE's runtime empty-relation propagation can
        ELIMINATE interior CollectMetrics nodes when a query stage turns
        out empty (verified: observe → join-with-empty → localCheckpoint
        fulfills the Observation with a schemaless empty row) — a routine
        steady-state event for a drained frontier or a zero-discovery
        epoch. Round 5 first excluded that AQE rule for the loop's
        duration, but the exclusion measured ~10-25% slower at bench scale
        (the rule is what short-circuits the frontier's routinely empty
        branches), so every epoch metric now rides a RobustObservation
        (operators/observe.py) that recomputes from the epoch's persisted
        frames iff its CollectMetrics was pruned — full AQE kept, metrics
        exact in both the empty and the sibling-empty case."""
        cfg = self.cfg
        res = EngineResult()
        n_epochs = cfg.epochs if epochs is None else epochs
        for e in range(self._start_epoch, self._start_epoch + n_epochs):
            absorb_obs = self._absorb(self._pending, e)
            granted, stats = self._schedule(e)
            discoveries, fetch_obs = self._fetch(granted, e)

            ordering_df = granted.select(
                F.lit(e).alias("epoch"),
                F.col("epoch_rank").alias("rank"),
                "url_canon",
                "url_hash",
                "host",
                "xor_d",
            )
            if collect_ordering:
                rows = ordering_df.orderBy("rank").collect()
                res.ordering.extend((e, r["rank"], r["url_canon"]) for r in rows)

            # truncate lineage between epochs (state = pure snapshot, §7.0)
            self._commit_state(discoveries)

            # FIRING INVARIANT: every Observation.get below blocks until a
            # job scans its plan, and _commit_state's wave-1 jobs are what
            # fire them (pending checkpoint → cands/eligible/fetch; seen
            # checkpoint → absorb). These reads MUST stay after
            # _commit_state — calling the phases independently without a
            # materializing action would hang here, not error (ADVICE r2).
            n_cands = int(stats.pop("_cands_obs").get["n"])
            n_eligible = int(stats.pop("_elig_obs").get["n"])
            n_granted = min(n_eligible, cfg.global_k)
            stats = {
                "candidates": n_cands,
                "deferred_politeness": n_cands - n_eligible,
                "capped_global": n_eligible - n_granted,
                "scheduled": n_granted,
            }
            absorb_m = absorb_obs.get
            n_valid = int(fetch_obs.get["n_valid"])
            n_invalid = stats["scheduled"] - n_valid
            epoch_metrics = {
                "epoch": e,
                "enqueued": int(absorb_m["enqueued"]),
                "blocked_robots": int(absorb_m["blocked"]),
                **stats,
                "fetched": n_valid,
                "fetch_invalid": n_invalid,
            }
            res.metrics.append(epoch_metrics)
            res.fetched_valid += n_valid
            res.fetched_invalid += n_invalid
            if self.snapshot_dir is not None:
                from maga_spark.plans.snapstore import commit_epoch

                commit_epoch(self, e, metrics=epoch_metrics, ordering=ordering_df)
            release(*self._epoch_temps)  # state is checkpointed; temps can go
            self._epoch_temps.clear()
        res.seen_count = self.seen.count()
        self._start_epoch += n_epochs
        return res

    def expire_urls(self, urls: DataFrame) -> int:
        """Re-crawl scheduling: forget URLs from the seen set so a future
        absorb re-enqueues them. Reference analog: the reference's dedup
        set lives only for the process lifetime (maga/crawler.py:216-223 —
        a restart forgets everything); at 10^10 keys the distributed
        engine needs PER-KEY expiry instead of a restart.

        ``urls``: DataFrame with either a raw ``url`` column (canonicalized
        here, same path as absorb) or a ``url_hash`` column. Keys not
        currently in seen are ignored (idempotent), and so are keys still
        queued in the frontier: forgetting one would let the next absorb
        enqueue it a second time. Per seen_mode:

        * exact  — anti-join removal from seen only;
        * cuckoo — ALSO deletes the per-key fingerprints, O(batch) — the
          capability the cuckoo backend exists for.

        Returns the number of keys actually expired."""
        cfg = self.cfg
        if "url_hash" in urls.columns:
            hashes = urls.select("url_hash")
        else:
            hashes = (
                urls.select(url_parts("url").alias("p"))
                .filter(F.col("p.url_canon").isNotNull())
                .select(F.xxhash64("p.url_canon").alias("url_hash"))
            )
        keyed = (
            hashes.dropDuplicates(["url_hash"])
            .select(
                F.pmod("url_hash", F.lit(cfg.nshards)).cast("int").alias("shard"), "url_hash"
            )
            # only keys actually seen: keeps the cuckoo delete contract
            # (never delete a never-inserted key) and makes expiry idempotent
            .join(self.seen, ["shard", "url_hash"], "left_semi")
            # never a queued key: the frontier row stays, so forgetting it
            # would make the next absorb append a duplicate url_hash
            .join(self.frontier.select("url_hash"), "url_hash", "left_anti")
            # freeze the batch: the seen removal and the filter delete must
            # observe the SAME key set even though self.seen changes below
            .localCheckpoint(True)
        )
        n = keyed.count()
        self.seen = self.seen.join(keyed.select("url_hash"), "url_hash", "left_anti")
        # both checkpoints join the current state generation: they feed only
        # the seen/cuckoo lineage, so the next _commit_state (which
        # re-checkpoints those tables) releases them with it
        self._state_ckpts.append(keyed)
        if self.seen_mode == "cuckoo":
            self.cuckoo = local_ckpt(delete_from_shard_cuckoo(self.cuckoo, keyed))
            self._state_ckpts.append(self.cuckoo)
        return n

    def seen_per_shard(self) -> list:
        """Final seen set as per-shard sorted hash arrays — the bit-for-bit
        parity artifact (BASELINE.md)."""
        return (
            self.seen.groupBy("shard")
            .agg(F.array_sort(F.collect_list("url_hash")).alias("hashes"))
            .orderBy("shard")
            .collect()
        )
