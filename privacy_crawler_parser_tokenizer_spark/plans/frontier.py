"""Distributed URL-frontier + fetch scheduler (the north-rule engine).

Implements the canonical round-synchronous crawl semantics pinned by
``core.oracle.CrawlOracle`` (which in turn reproduces the reference
crawler, src/crawler.py:143-241) as iterative batch DataFrame rounds:

    rewrite-per-round state (one row per domain, snapshot per round)
      domain_state(seed_rank, domain, full_url, phase, next_idx,
                   depth_count, n_links, output_count, landing_ok, had_links)
    append-only delta tables (per-round delta snapshot; read = one
    multi-path scan; auto-compacted every compact_every rounds)
      links(seed_rank, pos, url)           -- per-domain frontier list
      seen(href, probes, first_round)      -- raw-href probe-count deltas
      policy_seen(text_hash, seed_rank, pos, round)
      crawl_log, documents, metrics,
      lineage(round, stage, partition_id, n_rows)

    per round:
      due -> resolve request url -> robots gate -> priority-queue
      politeness window (row_number over host by (priority, seed_rank)
      <= budget) -> salted repartition by host-hash -> fused
      fetch + strip/extract + verify (English gate + TF-IDF vs
      broadcast ground truth) + the broadcast Bloom's verdict per href
      -> candidate admission (left-anti vs ``seen`` for every "might"
      href + in-round first occurrence by (seed_rank, page_pos)) ->
      junk filter -> link completion ->
      in-page + in-list dedupe -> frontier append -> content
      first-writer dedupe -> log/doc/metric/lineage deltas -> state
      update -> checkpoint + commit marker.

One round plan for every crawl — tests, benchmarks, the
``frontier_crawl`` query and live crawls run the same stages:

  * one fetch path: ``PythonFetcher.fetch_process`` runs
    ``fetch_fn(url) -> html`` and the page kernel -- strip, links,
    verify and the Bloom verdict of every href -- in ONE mapInPandas
    call per batch, so a fetched page crosses into Python once;
  * one robots gate: a ``(host, content)`` dimension joined on host,
    evaluated by a content UDF that parses each host's rules once per
    Arrow batch.  Only the dimension's source depends on the mode — a
    static local frame from injected ``robots=`` rules, or the
    warehouse ``robots`` table the live ``robots_fetch_fn`` stage fills;
  * one politeness control: ``host_budget=k`` grants at most k
    fetches per host per round, which also bounds same-host fetch
    concurrency at k; a budget-less crawl has no per-host bound;
  * one seen filter: the sharded Bloom pre-filter always runs, and the
    exact ``seen`` anti-join decides every "might" verdict.  The
    round's filter is fixed before its fetch (it changes only in the
    previous round's write wave, the resume rebuild and
    ``expire_seen``, which rebuilds it from the kept set);
  * one state update: the per-round update side (at most one row per
    due domain) is broadcast into the ``domain_state`` rewrite;
  * one write wave: every delta snapshot write and the filter delta
    build are submitted at once;
  * one round cache: the five round-local frames read by several
    writes (requests, processed, cand3, links_delta, visits) are
    ``localCheckpoint(eager=False)``-ed, and the round frees their
    blocks by RDD id before it returns.  Under AQE that call is not
    lazy for a frame with a shuffle: it runs the frame's shuffle-map
    stages on the driver thread (a ``local[4]`` crawl on a 4-vCPU VM
    started 64 of its 112 jobs inside the five calls).

The reference's racy cross-domain ``Manager()`` dicts
(src/crawler.py:350-351) become deterministic window functions: every
in-round conflict resolves by the commit order ``(seed_rank,
page_pos)``, exactly as the oracle commits granted fetches in seed-rank
order.  All cross-row logic is relational; per-page logic (HTML parse,
strip, TF-IDF, Bloom probe) lives in the Arrow-batched page kernel of
``functions.udfs`` — no per-row Python at the Spark boundary.

Scale notes (10^10-URL frontier):
  * every shuffle keys on seed_rank, host, href-hash or text-hash — no
    driver-side data loops; the driver only counts due domains per round
    and re-broadcasts the Bloom delta;
  * the ``seen`` anti-join is the exactness path; the broadcast sharded
    Bloom (operators.bloom) only skips join work for definitely-new
    URLs, so its false positives never affect results;
  * hot-host skew is defused twice: the politeness window bounds
    per-host fan-out per round, and the fetch stage repartitions by
    raw hash(host, round, url) — per-URL spread, measured straggler
    ratio 1.05-1.07 under a 30%-one-host wave (tools/bench_hostskew.py);
  * the state update broadcasts one row per due domain; a round whose
    update side outgrows a broadcast (~10^7 due domains) would need a
    shuffle join there again — no workload comes near it;
  * state snapshots per round give exact resume (crash between writes
    replays the uncommitted round idempotently — the commit marker is
    written last);  append tables write per-round deltas, so there is
    no O(rounds^2) rewrite;
  * with a real Iceberg catalog the Warehouse swaps for
    ``writeTo().append()`` + snapshot expiry, nothing else changes.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from functools import partial

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.robots import parse_robots, url_path
from ..functions.text import (
    complete_link_col,
    ensure_scheme_col,
    host_of_col,
    is_junk_href_col,
)
from ..functions.udfs import (
    broadcast_dictionary,
    broadcast_ground_truth,
    make_process_batch_fn,
)
from ..operators.bloom import ShardedBloom
from ..sources.warehouse import Warehouse

# domain_state is the only rewrite-per-round table (one row per domain,
# genuinely mutable).  Everything else is APPEND-ONLY: each round writes
# only its delta snapshot and reads are one multi-path parquet scan over
# all deltas — rewriting the cumulative seen/links sets per round would
# be O(rounds x table size), unusable at 10^10 URLs.  (With Iceberg:
# appends + periodic compaction.)
STATE_TABLES = ("domain_state",)
DELTA_TABLES = ("links", "seen", "policy_seen", "crawl_log", "documents",
                "metrics", "lineage")

_STATE_SCHEMA = (
    "seed_rank int, domain string, full_url string, phase string, "
    "next_idx int, depth_count int, n_links int, output_count int, "
    "landing_ok boolean, had_links boolean"
)
_LINKS_SCHEMA = "seed_rank int, pos int, url string"
_SEEN_SCHEMA = "href string, probes bigint, first_round int"
_POLICY_SCHEMA = "text_hash string, seed_rank int, pos int, round int"
_ROBOTS_SCHEMA = "host string, content string, fetched_round int"
_LOG_SCHEMA = (
    "seed_rank int, domain string, url string, discovery_rank int, "
    "round int, sim double, fetched boolean, valid boolean, "
    "duplicate boolean, doc_id string"
)
_DOCS_SCHEMA = "doc_id string, url string, html string, text string, seed_rank int, round int"
_METRICS_SCHEMA = (
    "round int, granted bigint, fetched bigint, new_links bigint, "
    "policies bigint, active_domains bigint"
)
_LINEAGE_SCHEMA = "round int, stage string, partition_id int, n_rows bigint"

def _arrow_of_ddl(ddl: str):
    """Derive the pyarrow write schema from the Spark DDL read schema, so
    the two cannot drift: a column added/renamed/retyped in the DDL flows
    to the driver-local parquet writes automatically, and an unsupported
    type fails loudly here instead of as all-null reads later."""
    types = {"int": pa.int32(), "bigint": pa.int64(), "string": pa.string(),
             "double": pa.float64(), "boolean": pa.bool_()}
    fields = []
    for col in ddl.split(","):
        name, typ = col.split()
        fields.append(pa.field(name, types[typ]))
    return pa.schema(fields)


_METRICS_ARROW = _arrow_of_ddl(_METRICS_SCHEMA)
_LINEAGE_ARROW = _arrow_of_ddl(_LINEAGE_SCHEMA)



# ---------------------------------------------------------------------------
# fetchers
# ---------------------------------------------------------------------------


class PythonFetcher:
    """The crawler's one fetch path: ``mapInPandas`` over salted
    host-partitions, calling ``fetch_fn(url) -> html`` per row inside an
    Arrow batch (one Python invocation per batch).  A falsy result
    fetches as '' — the reference's request() returns '' on any error
    (src/utils/utils.py:111-181).  With a real HTTP client this is where
    per-partition connection reuse + the (3,6)s timeouts of the
    reference live; tests inject a dict-backed fn (``pages.get``)."""

    def __init__(self, fetch_fn):
        self.fetch_fn = fetch_fn

    def fetch_process(self, requests: DataFrame, round_id: int,
                      process_fn, n_partitions: int) -> DataFrame:
        """Fully-fused fetch stage: fetch each batch's html AND run the
        strip/extract/verify/Bloom page kernel on it inside the SAME
        mapInPandas call — one Python round trip for the hottest stage.
        ``process_fn`` is functions.udfs.make_process_batch_fn's batch
        kernel; ``might`` is aligned with ``hrefs``.  The wave is salted
        into ``n_partitions`` partitions (``_salt_by_host``)."""
        fn = self.fetch_fn
        out_schema = T.StructType(
            requests.schema.fields
            + [
                T.StructField("html", T.StringType()),
                T.StructField("contents", T.StringType()),
                T.StructField("hrefs", T.ArrayType(T.StringType())),
                T.StructField("might", T.ArrayType(T.BooleanType())),
                T.StructField("sim_raw", T.DoubleType()),
            ]
        )

        def run(batches):
            for pdf in batches:
                pdf = pdf.copy()
                pdf["html"] = [
                    (fn(u) or "") if u is not None else "" for u in pdf["url"]
                ]
                yield process_fn(pdf)

        salted = _salt_by_host(requests, round_id, n_partitions)
        return salted.mapInPandas(run, schema=out_schema)


def _salt_by_host(requests: DataFrame, round_id: int,
                  n_partitions: int) -> DataFrame:
    """Salted repartition by host-hash (north rule) into
    ``n_partitions`` partitions (``_fetch_partitions``): spreads hot
    hosts across partitions while keeping the shuffle deterministic per
    round.  The count must be explicit: AQE coalesces a count-less
    ``repartition(key)`` by bytes exactly like ``rebalance`` (below) —
    a 2,000-URL wave ran in ONE partition, per-partition rows
    ``[2000]``; ``repartition(4, key)`` gave ``[481, 496, 506, 517]``.

    The key is the RAW ``hash(host, round, url)`` — measured against
    the alternatives under an adversarial 30%-one-host wave
    (tools/bench_hostskew.py, pinned 8c, 40k URLs):

      * ``hash(host, round)`` alone is constant per host within a
        round, so the hot host lands in ONE partition — straggler
        ratio 6.1-6.3, wall 2.7x worse;
      * AQE ``rebalance`` splits by BYTES, and a 40k-URL wave is tiny
        in bytes — it coalesced the whole CPU-bound wave to a single
        partition;
      * pre-``pmod``-ing the key re-hashes P small ints into P
        buckets (balls-in-bins collisions: 2x clumps); the raw hash
        keeps Spark's partitioner uniform — straggler ratio 1.05-1.07.

    Per-URL spread is bounded by politeness, not by the key: with
    ``host_budget=k`` at most k of a host's URLs are in the wave."""
    key = F.hash(host_of_col(F.col("url")), F.lit(round_id), F.col("url"))
    return requests.repartition(n_partitions, key)


def _fetch_partitions(spark: SparkSession, n_active: int) -> int:
    """The fetch wave's partition count: one per task slot (the default
    parallelism), capped by the round's due domains — each due domain
    makes at most one request — so a one-URL tail round runs one task."""
    return min(spark.sparkContext.defaultParallelism, n_active)


# ---------------------------------------------------------------------------
# robots UDF, robots fetch, seen-filter build
# ---------------------------------------------------------------------------


def make_robots_content_udf(user_agent: str = "*"):
    """The robots gate: the ``(host, content)`` dimension rides a join on
    host, and this UDF evaluates the joined content against each url's
    path.  Policies are parse-cached
    per Arrow batch keyed by content string, so a host's rules parse
    once per batch, not once per URL.  NULL/'' content = allow-all
    (RFC 9309 §2.3.1: unavailable robots.txt means full allow — also
    the reference fetcher's error->'' contract)."""

    @F.pandas_udf(T.BooleanType())
    def robots_content_ok(content: pd.Series, url: pd.Series) -> pd.Series:
        memo: dict[str, object] = {}

        def ok(c, u):
            if not c:
                return True
            pol = memo.get(c)
            if pol is None:
                pol = memo[c] = parse_robots(c, user_agent)
            return pol.allows(url_path(u))

        return pd.Series([ok(c, u) for c, u in zip(content, url)])

    return robots_content_ok


def fetch_robots_delta(new_hosts: DataFrame, fetch_fn, rnd: int) -> DataFrame:
    """[NEW] live robots.txt fetch: one ``<scheme>://host/robots.txt``
    GET per new host, inside mapInPandas so each Python worker's
    keep-alive HttpClient (sources/httpfetch.py) serves it — the same
    seam as the page fetch.  ``''`` (unreachable / absent / any error)
    means allow-all.  ``new_hosts`` must carry (host, any_url); the
    scheme is taken from the request url that introduced the host."""

    def run(batches):
        for pdf in batches:
            contents = []
            for h, u in zip(pdf["host"], pdf["any_url"]):
                scheme = (u or "").split("://", 1)[0] if "://" in (u or "") else "http"
                contents.append(fetch_fn(f"{scheme}://{h}/robots.txt") or "")
            yield pd.DataFrame(
                {"host": pdf["host"], "content": contents,
                 "fetched_round": rnd}
            )

    return new_hosts.mapInPandas(run, schema=_ROBOTS_SCHEMA)


def build_filter_distributed(df: DataFrame, col: str, factory):
    """Build an approximate-membership filter over ``df[col]`` with
    per-partition construction + driver-side merge (no raw-value
    collect, no ``.rdd`` round trip — Arrow-batched ``mapInPandas``
    yields one pickled filter per partition): the per-round delta path
    of the broadcast lifecycle, the resume rebuild and the expiry
    rebuild.  ``factory()`` -> an empty operators.bloom.ShardedBloom."""
    import pickle

    def per_partition(batches):
        b = factory()
        for pdf in batches:
            vals = pdf[col][pdf[col].notna()]
            if len(vals):
                b.add(vals.astype("object"))
        yield pd.DataFrame({"blob": [pickle.dumps(b)]})

    parts = df.select(col).mapInPandas(per_partition, "blob binary").collect()
    out = factory()
    for r in parts:
        out.merge(pickle.loads(r.blob))
    return out


# ---------------------------------------------------------------------------
# the engine
# ---------------------------------------------------------------------------


# The Bloom only skips anti-join work (the join decides every "might"),
# so its false-positive rate only trades filter bytes for join probes.
BLOOM_FPP = 0.01
# domain_state snapshots kept after each commit: resume reads only the
# committed one; its predecessor stays readable for inspection.
KEEP_STATE_SNAPSHOTS = 2


@dataclass
class FrontierConfig:
    threshold: float = 0.6          # cosine acceptance (crawler.py:205)
    max_depth: int = 3              # page-expansion budget (crawler.py:196)
    # politeness: fetches/host/round, which also bounds same-host fetch
    # concurrency at this many workers.  None = no per-host bound
    host_budget: int | None = None
    user_agent: str = "*"
    # expected hrefs in the sharded Bloom seen pre-filter; the exact
    # anti-join vs ``seen`` decides every "might" verdict, so the filter
    # only skips join work
    bloom_capacity: int = 1 << 20
    max_rounds: int = 10_000
    compact_every: int = 64         # merge delta snapshots every N rounds
    # coalesce each per-round delta snapshot write to N files (the
    # wave is submitted at once either way).  At sandbox round sizes
    # each delta is tiny and a 32-task write job per table monopolizes
    # the local scheduler; at production round sizes leave None and
    # let AQE size the files.
    delta_write_partitions: int | None = None


@dataclass
class FrontierRun:
    warehouse: Warehouse
    rounds: int
    config: FrontierConfig


class FrontierCrawler:
    """Round-loop driver.  ``run()`` starts fresh or resumes from the
    warehouse's last committed round (exact resume)."""

    def __init__(self, spark: SparkSession, warehouse_dir: str, *,
                 fetcher: PythonFetcher,
                 seeds: list[str], ground_truth: str = "",
                 dictionary: frozenset = frozenset(),
                 robots: dict[str, str] | None = None,
                 robots_fetch_fn=None,
                 config: FrontierConfig | None = None,
                 priority_expr=None):
        self.spark = spark
        self.wh = Warehouse(warehouse_dir)
        self.seeds = list(seeds)
        self.cfg = config or FrontierConfig()
        # priority queue [NEW]: native Column builder url -> priority;
        # contended politeness budgets grant by (priority, seed_rank).
        # None = FIFO (reference semantics).  Mirror of the oracle's
        # priority_fn — supply both for parity tests.
        self.priority_expr = priority_expr or (lambda url: F.lit(0))
        self.fetcher = fetcher
        # robots gate: one (host, content) dimension joined on host.  It
        # comes from injected rules (parity mode, reference-compatible)
        # as a static driver-local relation (Arrow-built, so Catalyst
        # sees its true size and broadcasts it) OR from live per-host
        # fetches through the HTTP client seam ([NEW]): each round
        # fetches robots.txt for hosts the warehouse `robots` table
        # hasn't seen and persists them as a delta snapshot (exact
        # resume).
        if robots_fetch_fn is not None and robots:
            raise ValueError(
                "pass either robots= (injected rules) or "
                "robots_fetch_fn= (live fetch), not both"
            )
        self.robots_fetch_fn = robots_fetch_fn
        self.robots_live = robots_fetch_fn is not None
        rules = sorted((robots or {}).items())
        self._robots_static = spark.createDataFrame(pa.table(
            {"host": [h for h, _ in rules], "content": [c for _, c in rules]},
            schema=_arrow_of_ddl("host string, content string"),
        ))
        self.robots_content_udf = make_robots_content_udf(self.cfg.user_agent)
        self._delta_tables = DELTA_TABLES + (
            ("robots",) if self.robots_live else ()
        )
        self._bc_gt = broadcast_ground_truth(spark, ground_truth)
        self._bc_dict = broadcast_dictionary(spark, dictionary)
        # an empty seen filter; a partial, so it pickles into executors
        self._new_filter = partial(ShardedBloom, self.cfg.bloom_capacity,
                                   BLOOM_FPP)
        self.bloom = self._new_filter()
        self._bloom_bc = None       # managed broadcast handle (one live copy)
        self._bloom_dirty = True    # re-broadcast only when the filter changed
        self.bloom_broadcasts_created = 0   # lifecycle observability:
        self.bloom_broadcasts_destroyed = 0  # created - destroyed must stay 1
        self._next_active = None    # due-count observed on the state write
        self.round_seconds: list[float] = []  # per-round wall clock (scale evidence)
        self.round_trace: list[dict] = []     # per-round phase timings
        # test seam: when set, called as fn(name, df) on the round's key
        # frames so tests can introspect the optimized plan or check a
        # frame's invariants (any job a probe runs is the test's own)
        self.plan_probe = None
        # one long-lived driver thread: overlaps the per-round stats job
        # with step-4/5 plan construction (the round's driver floor)
        self._driver_pool = ThreadPoolExecutor(max_workers=1)
        self._pending_stats = None

    def _broadcast_filter(self):
        """Broadcast the current filter, destroying the previous round's
        broadcast: with a growing ~GB filter over 10^4 rounds, leaking
        one stale broadcast per round is a driver/executor OOM."""
        if self._bloom_dirty or self._bloom_bc is None:
            old = self._bloom_bc
            self._bloom_bc = self.spark.sparkContext.broadcast(self.bloom)
            self.bloom_broadcasts_created += 1
            self._bloom_dirty = False
            if old is not None:
                old.destroy()
                self.bloom_broadcasts_destroyed += 1
        return self._bloom_bc

    # -- state io ---------------------------------------------------------
    def _stored_rdd_ids(self) -> set[int]:
        """Ids of RDDs currently holding cached blocks (storage-level
        view; localCheckpoint storage, which DataFrame.unpersist cannot
        reach)."""
        return {
            info.id()
            for info in self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
            if info.numCachedPartitions() > 0
        }

    def _empty(self, schema: str) -> DataFrame:
        return self.spark.createDataFrame([], schema)

    def _init_state(self) -> None:
        rows = [
            (i, d, None, "landing", 0, 0, 0, 0, False, False)
            for i, d in enumerate(self.seeds)
        ]
        state = self.spark.createDataFrame(rows, _STATE_SCHEMA).withColumn(
            "full_url", ensure_scheme_col(F.col("domain"))
        )
        self.wh.write(state, "domain_state", -1)
        self.wh.commit(-1, list(STATE_TABLES))

    def _load(self, table: str, snapshot: int) -> DataFrame:
        return self.wh.read(self.spark, table, snapshot)

    def _load_union(self, table: str, schema: str, upto: int) -> DataFrame:
        """All delta snapshots <= ``upto`` as ONE multi-path parquet scan
        (uncommitted later snapshots from a crashed round are excluded)."""
        snaps = sorted(s for s in self.wh.snapshots(table) if s <= upto)
        if not snaps:
            return self._empty(schema)
        paths = [self.wh.snapshot_path(table, s) for s in snaps]
        return self.spark.read.schema(schema).parquet(*paths)

    def _live_robots(self, requests: DataFrame, rnd: int) -> DataFrame:
        """[NEW] live robots.txt stage (north rule: robots gating over a
        real web): the robots dimension as of round ``rnd``.  Anti-join
        this round's request hosts against the warehouse ``robots``
        table, fetch robots.txt for the never-seen hosts through the
        same per-worker HTTP client as the page fetch (one GET per host
        over the crawl's lifetime), and append the results as this
        round's delta snapshot (so resume replays the cache instead of
        re-fetching).  The per-round fetch delta is O(new hosts), not
        O(hosts)."""
        cached = self._load_union("robots", _ROBOTS_SCHEMA, rnd - 1)
        hosts = (
            requests.filter(F.col("host") != "")
            .groupBy("host")
            .agg(F.min("url").alias("any_url"))
        )
        new_hosts = hosts.join(cached.select("host"), "host", "left_anti")
        delta = fetch_robots_delta(new_hosts, self.robots_fetch_fn, rnd)
        # the snapshot write materializes the fetch exactly once
        self.wh.write(delta, "robots", rnd)
        return self._load_union("robots", _ROBOTS_SCHEMA, rnd)

    def _robots_gate(self, requests: DataFrame, rnd: int) -> DataFrame:
        """Add ``robots_ok``: a left join of the robots dimension on host
        plus the content UDF.  The join is hint-free — Catalyst/AQE
        broadcasts the dimension while it is small and falls back to a
        shuffle join once millions of hosts outgrow the broadcast
        threshold."""
        robots = (self._live_robots(requests, rnd) if self.robots_live
                  else self._robots_static)
        return (
            requests.join(
                robots.select("host", F.col("content").alias("_robots_txt")),
                "host",
                "left",
            )
            .withColumn(
                "robots_ok",
                self.robots_content_udf(F.col("_robots_txt"), F.col("url")),
            )
            .drop("_robots_txt")
        )

    # -- main loop --------------------------------------------------------
    def run(self) -> FrontierRun:
        last = self.wh.last_committed_round()
        if last is None:
            self._init_state()
            last = -1
        else:
            # resume (a new crawler, or this one after a failed round):
            # rebuild the filter from the committed seen deltas, and
            # recount the due domains — a round that failed after its
            # state write left the post-round count behind
            seen = self._load_union("seen", _SEEN_SCHEMA, last)
            self.bloom = build_filter_distributed(
                seen.select("href").distinct(), "href", self._new_filter
            )
            self._bloom_dirty = True
            self._next_active = None

        rnd = last
        try:
            for rnd in range(last + 1, self.cfg.max_rounds):
                if not self._round(rnd):
                    rnd -= 1
                    break
        finally:
            # a round that threw between submit and result must not
            # abandon the overlapped stats job (its real error — often
            # the fetch UDF's — would be swallowed forever); drain it,
            # then join the worker thread so crawler instances don't
            # leak one thread each for the process lifetime.
            fut = self._pending_stats
            if fut is not None and not fut.cancel():
                try:
                    fut.result(timeout=600)
                except Exception:
                    pass  # the round's own exception stays primary
            self._pending_stats = None
            self._driver_pool.shutdown(wait=True)
            self._driver_pool = ThreadPoolExecutor(max_workers=1)
        return FrontierRun(self.wh, rnd + 1, self.cfg)

    def _round(self, rnd: int) -> bool:
        import time as _time

        _t0 = _time.monotonic()
        spark, cfg, wh = self.spark, self.cfg, self.wh
        _rdds_before = self._stored_rdd_ids()
        prev = rnd - 1
        state = self._load("domain_state", prev)
        links = self._load_union("links", _LINKS_SCHEMA, prev)
        seen = self._load_union("seen", _SEEN_SCHEMA, prev)
        policy_seen = self._load_union("policy_seen", _POLICY_SCHEMA, prev)

        due = state.filter(F.col("phase") != "done")
        # loop condition + metrics row.  After the first round the count
        # is observed for free on the previous round's state write; only
        # a fresh start / resume pays a counting job.
        n_active = (
            self._next_active if self._next_active is not None else due.count()
        )
        if n_active == 0:
            return False
        # The round-local frames below (requests, processed, cand3,
        # links_delta, visits) are each read by several writes, so each
        # is localCheckpoint(eager=False)-ed: its rows are stored once,
        # and every downstream plan re-analyzes a shallow RDD scan
        # instead of the round's full lineage.  Under AQE the call runs
        # the frame's shuffle-map stages at once; only its final stage
        # waits for first use.  The blocks are freed by id at the end of
        # the round.

        # 1. resolve each due domain's single request url ------------------
        link_at = links.select(
            "seed_rank", F.col("pos").alias("next_idx"), F.col("url").alias("_link_url")
        )
        requests = (
            due.join(link_at, ["seed_rank", "next_idx"], "left")
            .withColumn(
                "url",
                F.when(F.col("phase") == "landing", F.col("full_url")).otherwise(
                    F.col("_link_url")
                ),
            )
            .drop("_link_url")
            .withColumn("host", host_of_col(F.col("url")))
        )
        requests = self._robots_gate(requests, rnd)
        if self.plan_probe is not None:
            self.plan_probe("requests", requests)
        # granted AND blocked branches + state update read this
        requests = requests.localCheckpoint(eager=False)

        # 2. politeness window over robots-allowed requests, granted by
        #    (priority, seed_rank) per host — the partitioned priority
        #    queue dequeue
        eligible = requests.filter("robots_ok")
        if cfg.host_budget is not None:
            w_host = Window.partitionBy("host").orderBy(
                self.priority_expr(F.col("url")), F.col("seed_rank")
            )
            eligible = eligible.withColumn(
                "_hrn", F.row_number().over(w_host)
            )
            granted = eligible.filter(F.col("_hrn") <= cfg.host_budget).drop("_hrn")
            if self.plan_probe is not None:
                self.plan_probe("granted", granted)
        else:
            granted = eligible
        blocked = requests.filter(~F.col("robots_ok"))

        # 3. fetch + fused strip/extract/verify/Bloom: fetch AND the page
        # kernel run in ONE mapInPandas round trip (fetch_process).  The
        # round's Bloom is already fixed here (it is merged only in the
        # previous round's write wave, the resume rebuild and
        # expire_seen), so the in-kernel verdicts are the admission's.
        is_landing = F.col("phase") == "landing"
        depth_ok = F.col("depth_count") < cfg.max_depth
        process_fn = make_process_batch_fn(
            self._bc_gt, self._bc_dict, cfg.max_depth, self._broadcast_filter()
        )
        staged = self.fetcher.fetch_process(
            granted, rnd, process_fn, _fetch_partitions(spark, n_active)
        )
        processed = staged.withColumn(
            "expanding",
            (F.col("contents") != "") & (is_landing | depth_ok),
        ).localCheckpoint(eager=False)
        # materialize (fetch/UDF run exactly once) + round stats + the
        # per-partition fetch lineage in ONE job — submitted on a
        # background thread so the JVM executes the fetch while the
        # driver keeps building step-4/5 plans.  The localCheckpoint
        # calls (toRdd at creation, which under AQE runs each frame's
        # shuffle-map stages) are the dominant per-round driver fixed
        # cost at small rounds; hiding the stats job behind them
        # shrinks the round floor.  Grouping by partition id (vs the
        # former global agg) makes the same job yield the lineage rows
        # (round, fetch, partition_id, n_rows) for free — the result is
        # <= one row per partition, so the lineage table becomes a
        # driver-local pyarrow write like metrics and its former
        # per-round Spark write job disappears.  Nothing before the
        # `pending` assembly reads the counts.
        _stats_fut = self._driver_pool.submit(
            lambda: processed.groupBy(
                F.spark_partition_id().alias("partition_id")
            ).agg(
                F.count("*").alias("n"),
                F.coalesce(F.sum(F.size("hrefs")), F.lit(0)).alias("n_cand"),
            ).collect()
        )
        self._pending_stats = _stats_fut  # drained by run() on error
        _t_fetch = _time.monotonic()

        # 4. candidate admission: Bloom verdict (from the fetch kernel)
        # + exact anti path ---------------------------------------------
        cand = processed.filter("expanding").select(
            "seed_rank", "full_url",
            F.posexplode(F.arrays_zip("hrefs", "might")).alias("page_pos", "_hm"),
        ).select("seed_rank", "full_url", "page_pos",
                 F.col("_hm.hrefs").alias("href"), F.col("_hm.might").alias("_might"))
        # distinct is required for correctness, not just hygiene: an href
        # re-probed in 3+ distinct rounds has one seen-delta row PER
        # round, and a multi-match here would duplicate the cand row and
        # inflate its probe count.  It is also free at scale — the
        # partial (map-side) aggregate collapses duplicate hrefs before
        # the join's own exchange, shrinking shuffle volume.
        seen_keys = seen.select(F.col("href").alias("_seen_href")).distinct()
        probed = (
            cand.filter("_might")
            .join(seen_keys, F.col("href") == F.col("_seen_href"), "left")
            .withColumn("hist_seen", F.col("_seen_href").isNotNull())
            .drop("_seen_href")
        )
        fresh = cand.filter(~F.col("_might")).withColumn("hist_seen", F.lit(False))
        cand2 = probed.unionByName(fresh)
        if self.plan_probe is not None:
            self.plan_probe("cand2", cand2)
        # One partial-aggregable groupBy replaces the former
        # row_number-over-href window: the in-round winner row per href
        # is min(struct(seed_rank, page_pos, ...)) — (seed_rank,
        # page_pos) is unique in-round, so the argmin IS the window's
        # probe_rank==1 row — and the probe count and hist_seen (an
        # href-constant: Bloom verdict + seen-table membership depend
        # only on the href) ride the same aggregation.  Scale shape vs
        # the window: map-side combine collapses duplicate hrefs BEFORE
        # the exchange, so a viral href (millions of in-round
        # occurrences) ships as one partial row per task instead of
        # funneling every occurrence into one skewed sort partition,
        # and the cached frame shrinks to unique hrefs.
        # test_frontier_adversarial_web asserts both invariants on the
        # ``cand2`` probe frame.
        _admission = cand2.groupBy("href").agg(
            F.min(
                F.struct("seed_rank", "page_pos", "full_url")
            ).alias("_w"),
            F.count(F.lit(1)).cast("long").alias("_probes"),
            F.max("hist_seen").alias("hist_seen"),
        )
        if self.plan_probe is not None:
            self.plan_probe("cand3", _admission)
        cand3 = _admission.localCheckpoint(eager=False)

        admitted = cand3.filter(~F.col("hist_seen")).select(
            F.col("_w.seed_rank").alias("seed_rank"),
            F.col("_w.full_url").alias("full_url"),
            F.col("_w.page_pos").alias("page_pos"),
            "href",
        )
        new_links_raw = admitted.filter(~is_junk_href_col(F.col("href"))).withColumn(
            "completed", complete_link_col(F.col("full_url"), F.col("href"))
        )
        # ordered in-page dedupe on the completed link (crawler.py:137):
        # first occurrence == min(page_pos) per (seed_rank, completed) —
        # a partial-aggregable groupBy (map-side combine, no sort),
        # whose output partitioning the following anti-join reuses
        page_links = new_links_raw.groupBy("seed_rank", "completed").agg(
            F.min("page_pos").alias("page_pos")
        )
        # in-list dedupe against the domain's existing frontier (crawler.py:199-201)
        page_links = page_links.join(
            links.withColumnRenamed("url", "completed"),
            ["seed_rank", "completed"],
            "left_anti",
        )
        # positions append after the current list
        w_append = Window.partitionBy("seed_rank").orderBy("page_pos")
        links_delta = (
            page_links.join(
                state.select("seed_rank", F.col("n_links").alias("_base")), "seed_rank"
            )
            .withColumn("pos", (F.col("_base") + F.row_number().over(w_append) - 1).cast("int"))
            .select("seed_rank", "pos", F.col("completed").alias("url"))
        )
        if self.plan_probe is not None:
            self.plan_probe("links_delta", links_delta)
        links_delta = links_delta.localCheckpoint(eager=False)

        # 5. append-only deltas: links + seen probe counts.  Rounds with
        # no candidates (politeness-deferred tails) skip these writes and
        # the Bloom delta entirely — no snapshot is cheaper than an
        # empty one, and readers just see fewer delta files.  Writes are
        # *deferred* into one concurrent wave (step 8) so the 7 per-round
        # snapshot jobs overlap instead of serializing their scheduling +
        # commit latency — the dominant per-round fixed cost at small
        # rounds (data volume dominates at production rounds).
        # join the overlapped stats job: counts are first needed for the
        # n_cand write gate just below
        _stats = _stats_fut.result()
        self._pending_stats = None
        n_granted = sum(int(r["n"]) for r in _stats)
        n_cand = sum(int(r["n_cand"]) for r in _stats)
        # per-partition lineage of the fetch stage (skew observability at
        # scale) rode the stats job; one driver-local pyarrow file, no
        # Spark job.  Empty rounds write an empty snapshot, same as the
        # former empty Spark write.
        wh.write_rows(
            [(rnd, "fetch", int(r["partition_id"]), int(r["n"]))
             for r in _stats],
            _LINEAGE_ARROW, "lineage", rnd,
        )
        _t_stats = _time.monotonic()

        pending: list[tuple[str, DataFrame]] = []
        links_obs: Observation | None = None
        if n_cand > 0:
            # the new-link count rides an Observation on the snapshot
            # write itself (read after the wave) — the former standalone
            # links_delta.count() job per candidate round is gone.  A
            # candidate round whose links all dedupe away now writes an
            # empty snapshot instead of skipping it: same job count as
            # the old counting job, and compaction folds the empties.
            links_obs = Observation()
            pending.append((
                "links",
                links_delta.observe(
                    links_obs, F.count(F.lit(1)).alias("n")
                ),
            ))
            # probe-count delta: reader aggregates sum(probes)/min(first_round).
            # The probe count was computed inside the admission
            # aggregation, so this write is a pure projection of the
            # cached cand3 frame — no second shuffle of the candidates.
            seen_delta = cand3.select(
                "href",
                F.col("_probes").alias("probes"),
                F.lit(rnd).cast("int").alias("first_round"),
            )
            pending.append(("seen", seen_delta))

        # 6. link-visit outcomes: verify + content first-writer dedupe -----
        visits = processed.filter(~is_landing).withColumn(
            "text_hash",
            F.when(F.col("contents") != "", F.sha2(F.col("contents"), 256)),
        )
        # first-writer per content hash: one link visit per seed per
        # round (the oracle's in-round commit order is seed rank, and a
        # seed visits at most one link per round), so the in-round
        # winner is exactly min(seed_rank) — a partial-aggregable
        # groupBy instead of the former row_number window, for the same
        # reason as the admission dedupe: a viral duplicate page (the
        # same 404 boilerplate fetched from millions of hosts in one
        # round) collapses map-side instead of funneling into one sort
        # partition, and AQE can split the skewed join back where a
        # Window partition is unsplittable.  The historical dedupe join
        # also shrinks: the ever-growing policy_seen table now joins
        # one row per DISTINCT in-round hash, not one per visit.
        winners = (
            visits.filter(F.col("text_hash").isNotNull())
            .groupBy("text_hash")
            .agg(F.min("seed_rank").alias("_win_seed"))
            .join(
                policy_seen.select(
                    F.col("text_hash"), F.lit(True).alias("_hdup")
                ),
                "text_hash",
                "left",
            )
        )
        visits = visits.join(winners, "text_hash", "left").withColumn(
            "dup",
            F.col("text_hash").isNotNull()
            & (
                F.coalesce(F.col("_hdup"), F.lit(False))
                | (F.col("seed_rank") != F.col("_win_seed"))
            ),
        )
        if self.plan_probe is not None:
            self.plan_probe("visits", visits)
        visits = visits.localCheckpoint(eager=False)

        policy_delta = visits.filter(
            F.col("text_hash").isNotNull()
            & (F.col("seed_rank") == F.col("_win_seed"))
            & ~F.coalesce(F.col("_hdup"), F.lit(False))
        ).select(
            "text_hash", "seed_rank", F.col("next_idx").alias("pos"), F.lit(rnd).alias("round")
        )
        pending.append(("policy_seen", policy_delta))

        # log rows: granted link visits + robots-blocked link requests
        is_policy = F.col("sim_raw") >= cfg.threshold
        visit_log = visits.select(
            "seed_rank",
            "domain",
            "url",
            F.col("next_idx").alias("discovery_rank"),
            F.lit(rnd).alias("round"),
            F.when(F.col("contents") == "", F.lit(0.0))
            .when(F.col("dup"), F.lit(0.0))
            .otherwise(F.col("sim_raw"))
            .alias("sim"),
            (F.col("contents") != "").alias("fetched"),
            ((F.col("contents") != "") & is_policy).alias("valid"),
            F.coalesce(F.col("dup"), F.lit(False)).alias("duplicate"),
            F.when(
                (F.col("contents") != "") & is_policy & ~F.col("dup"),
                F.concat(
                    F.expr("substring(domain, 1, length(domain)-4)"),
                    F.lit("_"),
                    (F.col("output_count") + 1).cast("string"),
                ),
            ).alias("doc_id"),
        )
        blocked_log = blocked.filter(~is_landing).select(
            "seed_rank",
            "domain",
            "url",
            F.col("next_idx").alias("discovery_rank"),
            F.lit(rnd).alias("round"),
            F.lit(0.0).alias("sim"),
            F.lit(False).alias("fetched"),
            F.lit(False).alias("valid"),
            F.lit(False).alias("duplicate"),
            F.lit(None).cast("string").alias("doc_id"),
        )
        pending.append(("crawl_log", visit_log.unionByName(blocked_log)))

        docs_delta = visits.filter(
            (F.col("contents") != "") & is_policy & ~F.col("dup")
        ).select(
            F.concat(
                F.expr("substring(domain, 1, length(domain)-4)"),
                F.lit("_"),
                (F.col("output_count") + 1).cast("string"),
            ).alias("doc_id"),
            "url",
            "html",
            F.col("contents").alias("text"),
            "seed_rank",
            F.lit(rnd).alias("round"),
        )
        # n_policies rides the documents write as an observed metric —
        # no separate aggregation job over the cached visits frame
        docs_obs = Observation()
        pending.append(
            ("documents",
             docs_delta.observe(docs_obs, F.count(F.lit(1)).alias("n")))
        )

        # 7. state update ---------------------------------------------------
        appended_counts = links_delta.groupBy("seed_rank").agg(
            F.count("*").cast("int").alias("_appended")
        )
        landing_upd = processed.filter(is_landing).select(
            "seed_rank",
            F.lit("landing_g").alias("_branch"),
            (F.col("contents") != "").alias("_landing_ok"),
        )
        link_upd = visits.select(
            "seed_rank",
            F.lit("link_g").alias("_branch"),
            F.lit(None).cast("boolean").alias("_landing_ok"),
            F.col("expanding").alias("_expanded"),
            ((F.col("contents") != "") & is_policy & ~F.col("dup")).alias("_made_doc"),
        )
        blocked_upd = blocked.select(
            "seed_rank",
            F.when(is_landing, F.lit("landing_b")).otherwise(F.lit("link_b")).alias("_branch"),
            F.lit(False).alias("_landing_ok"),
        )
        updates = (
            landing_upd.withColumn("_expanded", F.lit(False)).withColumn("_made_doc", F.lit(False))
            .unionByName(link_upd)
            .unionByName(
                blocked_upd.withColumn("_expanded", F.lit(False)).withColumn("_made_doc", F.lit(False))
            )
        )
        # both sides hold at most one row per due domain: broadcast them
        # so the full-state rewrite needs zero shuffles (scan -> 2
        # broadcast joins -> write)
        st = (
            state.join(F.broadcast(updates), "seed_rank", "left")
            .join(F.broadcast(appended_counts), "seed_rank", "left")
            .withColumn("_app", F.coalesce(F.col("_appended"), F.lit(0)))
        )
        new_n_links = (F.col("n_links") + F.col("_app")).cast("int")
        adv = F.col("_branch").isin("link_g", "link_b")
        new_next = (F.col("next_idx") + F.when(adv, 1).otherwise(0)).cast("int")
        new_phase = (
            F.when(F.col("_branch").isNull(), F.col("phase"))
            .when(F.col("_branch") == "landing_b", F.lit("done"))
            .when(
                F.col("_branch") == "landing_g",
                F.when(~F.col("_landing_ok") | (new_n_links == 0), F.lit("done")).otherwise(
                    F.lit("active")
                ),
            )
            .otherwise(
                F.when(new_next >= new_n_links, F.lit("done")).otherwise(F.lit("active"))
            )
        )
        state_new = st.select(
            "seed_rank",
            "domain",
            "full_url",
            new_phase.alias("phase"),
            new_next.alias("next_idx"),
            (F.col("depth_count")
             + F.when(F.coalesce(F.col("_expanded"), F.lit(False))
                      & (F.col("_branch") == "link_g"), 1).otherwise(0)).cast("int").alias("depth_count"),
            new_n_links.alias("n_links"),
            (F.col("output_count")
             + F.when(F.coalesce(F.col("_made_doc"), F.lit(False)), 1).otherwise(0)).cast("int").alias("output_count"),
            F.when(F.col("_branch").isin("landing_g", "landing_b"), F.col("_landing_ok"))
            .otherwise(F.col("landing_ok")).alias("landing_ok"),
            F.when(
                F.col("_branch") == "landing_g",
                F.col("_landing_ok") & (new_n_links > 0),
            ).otherwise(F.col("had_links")).alias("had_links"),
        )
        if self.plan_probe is not None:
            self.plan_probe("domain_state", state_new)
        # next round's due-count rides the state write as an observation
        state_obs = Observation()
        pending.append(
            ("domain_state",
             state_new.observe(
                 state_obs,
                 F.sum((F.col("phase") != "done").cast("long")).alias("n_active"),
             ))
        )

        # 8. one concurrent write wave: every delta snapshot job runs in
        # parallel (independent tables, shared cached parents — block
        # locks serialize concurrent first-materialization of a cached
        # frame), together with the filter delta build.  Scheduling +
        # parquet commit latency overlaps instead of summing across 7
        # writes.
        _t_plan = _time.monotonic()
        k = cfg.delta_write_partitions
        wave_secs: dict[str, float] = {}  # per-job wall time, observability

        def _write(df_, table):
            _w0 = _time.monotonic()
            wh.write(df_.coalesce(k) if k else df_, table, rnd)
            wave_secs[table] = round(_time.monotonic() - _w0, 3)

        with ThreadPoolExecutor(max_workers=min(10, len(pending) + 2)) as pool:
            futs = [pool.submit(_write, df_, table) for table, df_ in pending]
            delta_fut = None
            if n_cand > 0:
                delta_fut = pool.submit(
                    build_filter_distributed,
                    cand3.filter(~F.col("hist_seen")).select("href"),
                    "href",
                    self._new_filter,
                )
            for f in futs:
                f.result()
            if delta_fut is not None:
                self.bloom.merge(delta_fut.result())
                self._bloom_dirty = True  # next round re-broadcasts once

        n_fetched = n_granted  # every granted request issues one fetch
        n_policies = int(docs_obs.get["n"])
        n_new_links = (
            int(links_obs.get["n"] or 0) if links_obs is not None else 0
        )
        self._next_active = int(state_obs.get["n_active"] or 0)
        # one driver-local pyarrow file — a Spark job per single-row
        # metrics write is pure per-round fixed cost
        wh.write_rows(
            [(rnd, n_granted, n_fetched, n_new_links, n_policies, n_active)],
            _METRICS_ARROW, "metrics", rnd,
        )

        _t_wave = _time.monotonic()
        wh.commit(rnd, list(STATE_TABLES + self._delta_tables))
        for t in STATE_TABLES:
            wh.expire_snapshots(t, keep=KEEP_STATE_SNAPSHOTS)
        if cfg.compact_every and (rnd + 1) % cfg.compact_every == 0:
            for t in self._delta_tables:  # bounded multi-path read fan-in
                wh.compact(spark, t, rnd)
        # DataFrame.unpersist() cannot reach localCheckpoint block
        # storage: free this round's blocks by id (all round-local by
        # construction — the crawler holds no cross-round cached frames)
        _scala_sc = spark.sparkContext._jsc.sc()
        for _rid in self._stored_rdd_ids() - _rdds_before:
            _scala_sc.unpersistRDD(_rid, False)
        _t_end = _time.monotonic()
        self.round_seconds.append(_t_end - _t0)
        self.round_trace.append({
            "round": rnd, "granted": n_granted,
            "fetch_agg": round(_t_fetch - _t0, 3),   # build + submit (job overlaps step 4)
            "stats_join": round(_t_stats - _t_fetch, 3),  # step-4 build + any residual job wait
            "admission": round(_t_plan - _t_stats, 3),
            "write_wave": round(_t_wave - _t_plan, 3),
            "commit_tail": round(_t_end - _t_wave, 3),
            "wave_jobs": wave_secs,
        })
        return True

    # -- maintenance ------------------------------------------------------
    def expire_seen(self, hrefs: list[str]) -> int:
        """TTL/recrawl expiry: remove URLs from the ``seen`` table so
        the frontier re-admits them when rediscovered.  An O(seen) maintenance rewrite —
        aggregate the probe-count deltas, drop the expired hrefs, swap
        in one compacted snapshot (Warehouse.rewrite, Iceberg
        transform-and-overwrite shape) — never part of the round loop.

        A Bloom filter cannot unlearn, so the filter is rebuilt from the
        kept set in the same O(seen) pass.  Returns the number of seen
        URLs actually expired."""
        last = self.wh.last_committed_round()
        if last is None or not hrefs:
            return 0
        seen = self._load_union("seen", _SEEN_SCHEMA, last)
        expired_df = self.spark.createDataFrame(
            [(h,) for h in hrefs], "href string"
        )
        agg = seen.groupBy("href").agg(
            F.sum("probes").cast("long").alias("probes"),
            F.min("first_round").cast("int").alias("first_round"),
        )
        n_expired = agg.join(F.broadcast(expired_df), "href", "left_semi").count()
        if n_expired == 0:
            return 0
        kept = agg.join(F.broadcast(expired_df), "href", "left_anti")
        self.wh.rewrite(self.spark, "seen", last, kept)
        remaining = self._load_union("seen", _SEEN_SCHEMA, last)
        self.bloom = build_filter_distributed(
            remaining.select("href"), "href", self._new_filter
        )
        self._bloom_dirty = True
        return n_expired

    # -- result readers ---------------------------------------------------
    def crawl_log(self) -> DataFrame:
        """Full log in crawl-order parity order (seed_rank, discovery_rank)."""
        return self._union_deltas("crawl_log", _LOG_SCHEMA).orderBy(
            "seed_rank", "discovery_rank"
        )

    def documents(self) -> DataFrame:
        return self._union_deltas("documents", _DOCS_SCHEMA)

    def metrics(self) -> DataFrame:
        return self._union_deltas("metrics", _METRICS_SCHEMA).orderBy("round")

    def lineage(self) -> DataFrame:
        """Per-partition lineage of the fetch stage: (round, stage,
        partition_id, n_rows) — the skew observability table."""
        return self._union_deltas("lineage", _LINEAGE_SCHEMA).orderBy(
            "round", "partition_id"
        )

    def seen(self) -> DataFrame:
        """(href, revisits): revisit count == total probes - 1, matching
        the oracle's seen-dict values (crawler.py:110-115).  Aggregates
        the per-round probe-count deltas."""
        df = self._union_deltas("seen", _SEEN_SCHEMA)
        return df.groupBy("href").agg(
            (F.sum("probes") - 1).alias("revisits")
        )

    def outcomes(self) -> DataFrame:
        """Domain outcome classification (crawler.py:231-236) + running
        sim mean == avg over logged links (crawler.py:38-41)."""
        last = self.wh.last_committed_round()
        state = self.wh.read(self.spark, "domain_state", last)
        log = self._union_deltas("crawl_log", _LOG_SCHEMA)
        per_domain = log.groupBy("seed_rank").agg(
            F.max(F.col("valid").cast("int")).alias("_any_valid"),
            F.avg("sim").alias("sim_avg"),
        )
        return state.join(per_domain, "seed_rank", "left").select(
            "seed_rank",
            "domain",
            F.when(~F.col("landing_ok"), "failed_access")
            .when(~F.col("had_links"), "no_links")
            .when(F.coalesce(F.col("_any_valid"), F.lit(0)) == 0, "failed_links")
            .otherwise("successful")
            .alias("outcome"),
            F.coalesce(F.col("sim_avg"), F.lit(0.0)).alias("sim_avg"),
        )

    def summary_report(self, timestamp: str = "") -> str:
        """The reference's summary.txt audit trail (produce_summary,
        src/crawler.py:243-283): header counts + percentages, then one
        section per accessible domain with a status line per visited
        link.

        Scale-safe: header counts come from in-plan aggregations (a
        handful of rows collected), and the body merge-iterates TWO
        sorted streams — outcomes by seed_rank and the crawl log by
        (seed_rank, discovery_rank) — via ``toLocalIterator``, so driver
        memory holds one domain's section at a time, never the full
        crawl log (a collect() would OOM at 10^10 URLs)."""
        outcome_counts = {
            r.outcome: r.n
            for r in self.outcomes()
            .groupBy("outcome").agg(F.count("*").alias("n")).collect()
        }
        log = self._union_deltas("crawl_log", _LOG_SCHEMA)
        link_row = log.agg(
            F.coalesce(F.sum(F.col("valid").cast("long")), F.lit(0)).alias("ok"),
            F.count("*").alias("total"),
        ).collect()[0]
        n_ok_links, n_bad_links = int(link_row.ok), int(link_row.total - link_row.ok)
        counts = {k: outcome_counts.get(k, 0)
                  for k in ("successful", "failed_access", "no_links",
                            "failed_links")}
        n_domains = sum(counts.values()) or 1

        def pct(n):
            return round(n / n_domains * 100, 2)

        out = [f"Summary of Crawler Output ({timestamp})"]
        out.append(f"   # of Successful Domains = {counts['successful']}"
                   f" ({pct(counts['successful'])}%).")
        out.append(f"   Could not access {counts['failed_access']}"
                   f" ({pct(counts['failed_access'])}%) domains.")
        out.append(f"   No links found for {counts['no_links']}"
                   f" ({pct(counts['no_links'])}%) domains.")
        out.append(f"   No valid links found for {counts['failed_links']}"
                   f" ({pct(counts['failed_links'])}%) domains.")
        out.append(f"   # of successful links = {n_ok_links}.")
        out.append(f"   # of failed links = {n_bad_links}.")
        out.append("")

        log_it = self.crawl_log().toLocalIterator()
        pending_link = next(log_it, None)
        for o in self.outcomes().orderBy("seed_rank").toLocalIterator():
            # advance the log stream to this domain's rows (sorted merge)
            while pending_link is not None and pending_link.seed_rank < o.seed_rank:
                pending_link = next(log_it, None)
            if o.outcome == "failed_access":
                continue  # reference skips inaccessible domains (:265)
            if o.outcome == "no_links":
                out.append(f"{o.domain} -- NO_LINKS")
                out.append("")
                continue
            out.append(f"{o.domain} (avg sim = {round(o.sim_avg, 2)})")
            while pending_link is not None and pending_link.seed_rank == o.seed_rank:
                link = pending_link
                doc = link.doc_id or "None"
                if not link.fetched:
                    status = "NO_ACCESS"
                elif link.duplicate:
                    status = "DUPLICATE"
                else:
                    status = str(round(link.sim, 2))
                out.append(f"=> ({status}) {link.url} -> {doc} & {doc}.txt")
                pending_link = next(log_it, None)
            out.append("")
        return "\n".join(out) + "\n"

    def _union_deltas(self, table: str, schema: str) -> DataFrame:
        last = self.wh.last_committed_round()
        return self._load_union(
            table, schema, last if last is not None else -(10**9)
        )
