"""The benchmark's workloads. Each is a closed loop with one client that
drives the engine through its public calls only.

A workload function takes a ``Ctx`` and returns a ``Result``: set-up times,
the outcome of every output check, and the shape counters that prove the run
exercised what the workload claims. The timed calls themselves are recorded
by the ``Recorder`` under the layer names below. Every run times the same
calls: round counts are fixed, never derived from the clock.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

from layers import LEAVES, Recorder, leaf_layer

# ------------------------------------------------------------ workload sizes
BULK_EVENTS = 300_000      # one Zipf(1.1) changelog batch per round, over events / 10 documents
BULK_BUCKETS = 16
# warm-up rounds as (batch size, reads after the commit). The cold round's
# cost is class loading and compilation, so it is small; full-size commits
# keep speeding up for about six rounds, so the timed ones come after four
# warm-up commits, the middle two without reads to keep the warm-up short
BULK_WARM_ROUNDS = ((100_000, 1), (BULK_EVENTS, 0), (BULK_EVENTS, 0), (BULK_EVENTS, 1))
BULK_TIMED_ROUNDS = 3
BULK_TRACED_ROUNDS = 1     # a traced run and its untraced base time one round

CDC_DOCS = 2_000           # base snapshot, bootstrapped
CDC_BUCKETS = 32
CDC_BATCH_EVENTS = 16      # small tail batches: merge-on-read deltas
CDC_BATCHES = 4            # = compact_files_per_bucket: one compaction cycle
CDC_TAIL_DRAWS = 8         # tails drawn per seed until one compacts
CDC_SETUPS = 3             # gen + bootstrap on the warm JVM; setup_s is the median

LOOKUP_KEYS = 4
LOOKUPS_PER_COMMIT = 2     # read_keys calls after each tail commit, fresh Zipf keys each
BULK_READS = 2             # read_keys calls and change-feed reads after each bulk commit
GEN_KW = dict(zipf_a=1.1, delete_rate=0.05, dup_rate=0.03, stale_rate=0.02)

# the timed public calls; their durations feed the end-to-end metrics
COMMIT = "commit"                          # batch available -> snapshot committed
LOOKUP = "tables.miniberg.read_keys"
CHANGES = "tables.miniberg.table_changes"
SCAN = "tables.miniberg.scan"
HOOK = "streaming.microbatch.hook"

# the agg, distinct and top-k views a traced cdc_tail run keeps current:
# group column, value column, k
VIEW_GROUP, VIEW_VALUE, VIEW_K = "source", "n_tok", 3


@dataclass
class Ctx:
    spark: object
    rec: Recorder
    work: str
    seed: int
    traced: bool = False      # also measures the view and leaf layers
    trace_base: bool = False  # the untraced base of a traced run: its shape, no checks

    @property
    def checks(self) -> bool:
        return not self.trace_base

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


@dataclass
class Result:
    checks_on: bool = True
    setup_s: list[float] = field(default_factory=list)
    events: int = 0            # changelog events of the timed commits
    attempted: int = 0
    failed: int = 0
    checks: dict[str, str] = field(default_factory=dict)
    shape: dict = field(default_factory=dict)
    phases_s: dict[str, float] = field(default_factory=dict)  # wall time per phase

    @contextlib.contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases_s[name] = self.phases_s.get(name, 0.0) + time.perf_counter() - t0

    def check(self, name: str, fn) -> None:
        """Run one untimed output check; a failed or raising check counts
        as a failed operation."""
        if not self.checks_on:
            return
        self.attempted += 1
        try:
            fn()
            self.checks[name] = "ok"
        except Exception as e:  # every failure is reported, none is fatal
            self.failed += 1
            self.checks[name] = f"FAILED: {type(e).__name__}: {str(e)[:300]}"


def _payload_schema():
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
        T.StructField("n_tok", T.IntegerType(), True),
        T.StructField("source", T.StringType(), True),
    ])


class Client:
    """The one client: commits a changelog batch, then reads it back the way
    a consumer does. Every call is timed; a timed call follows an untimed
    quiesce."""

    def __init__(self, ctx: Ctx, res: Result, table, n_docs: int):
        self.ctx, self.res, self.table = ctx, res, table
        ranks = np.arange(1, n_docs + 1, dtype=np.float64) ** -GEN_KW["zipf_a"]
        self._p = ranks / ranks.sum()
        self._rng = np.random.default_rng(ctx.seed + 2)
        self.lineage: list[dict] = []  # every commit of this client
        self.last: dict = {}

    def _call(self, layer: str):
        if self.ctx.rec.timed:
            self.ctx.rec.quiesce()
            self.res.attempted += 1
        return self.ctx.rec.call(layer)

    def commit(self, changelog: str, batch_id: int) -> None:
        from recidiviz_data_spark.cdc.apply import apply_batch
        from recidiviz_data_spark.sources.changelog import read_batch

        rec, spark = self.ctx.rec, self.ctx.spark
        v0 = self.table.current_version()
        with self._call(COMMIT):
            with rec.call("sources.changelog.read_batch"):
                batch = read_batch(spark, changelog, batch_id)
            with rec.call("cdc.apply"):
                lineage = apply_batch(spark, self.table, batch, batch_id)
        self.lineage.extend(lineage)
        if rec.timed:
            self.res.events += sum(r["events_in"] for r in lineage)
        self.last = {"v0": v0, "v1": self.table.current_version(), "lineage": lineage}

    def lookup(self) -> None:
        """``read_keys`` on a few Zipf-drawn keys."""
        n = len(self._p)
        keys = [f"doc_{i:08d}" for i in self._rng.choice(n, LOOKUP_KEYS, p=self._p)]
        with self._call(LOOKUP):
            self.table.read_keys(self.ctx.spark, keys).collect()

    def changes(self) -> None:
        """The last commit's change feed, read over its changed buckets."""
        v0, v1 = self.last["v0"], self.last["v1"]
        with self._call(CHANGES):
            changed = self.table.changed_buckets(v0, v1)
            feed = self.table.table_changes(self.ctx.spark, v0, v1, buckets=changed).collect()
        self.last.update(changed=changed, feed=feed)


def _timed(ctx: Ctx, res: Result, fn) -> None:
    """Run ``fn`` as the measured window. A call that raises ends it and
    counts as a failed operation."""
    ctx.rec.timed = True
    try:
        fn()
    except Exception as e:  # reported as a failed operation, not a crash
        res.failed += 1
        res.checks["timed_calls"] = f"FAILED: {type(e).__name__}: {str(e)[:300]}"
    finally:
        ctx.rec.timed = False


# --------------------------------------------------------------- bulk_load
def bulk_load(ctx: Ctx) -> Result:
    """One large Zipf(1.1) changelog batch (deletes, in-batch duplicates,
    stale replays) applied into a fresh empty table; then lookups, reads of
    the load's change feed. Round = set-up (generate the batch, create the
    empty table) + those calls; one full snapshot token scan follows the
    last round. A traced run then measures the query leaves."""
    from pyspark.sql import functions as F

    from recidiviz_data_spark.cdc.apply import create_empty_table
    from recidiviz_data_spark.gen import gen_changelog
    from recidiviz_data_spark.tables.maintenance import table_stats

    spark, rec, res = ctx.spark, ctx.rec, Result(ctx.checks)
    state: dict = {"empty_before": []}

    def one_round(i: int, n_events: int, reads: int) -> None:
        d = ctx.path(f"bulk{i}")
        t0 = time.perf_counter()
        cl = os.path.join(d, "changelog")
        gen_changelog(cl, n_docs=n_events // 10, n_events=n_events,
                      n_batches=1, seed=ctx.seed, **GEN_KW)
        table = create_empty_table(os.path.join(d, "table"), _payload_schema(),
                                   num_buckets=BULK_BUCKETS)
        if rec.timed:
            res.setup_s.append(time.perf_counter() - t0)
        state["empty_before"].append(table_stats(table)["rows"] == 0)
        client = Client(ctx, res, table, n_events // 10)
        client.commit(cl, 0)
        for _ in range(reads):
            client.lookup()
        for _ in range(reads):
            client.changes()
        if "dir" in state:
            shutil.rmtree(state["dir"])
        state.update(dir=d, changelog=cl, client=client)

    def scan() -> None:
        table = state["client"].table
        if rec.timed:
            rec.quiesce()
            res.attempted += 1
        with rec.call(SCAN):
            state["scan"] = table.read(spark).select(
                F.count("*").alias("rows"), F.sum(F.size("tokens")).alias("tokens")
            ).collect()[0]

    with res.phase("warmup"):
        for i, (n_events, reads) in enumerate(BULK_WARM_ROUNDS):
            one_round(-1 - i, n_events, reads)
            scan()
    rounds = BULK_TRACED_ROUNDS if ctx.traced or ctx.trace_base else BULK_TIMED_ROUNDS

    def timed_rounds() -> None:
        for i in range(rounds):
            one_round(i, BULK_EVENTS, BULK_READS)
        scan()

    with res.phase("timed"):
        _timed(ctx, res, timed_rounds)

    from recidiviz_data_spark.oracle import expected_state

    client = state["client"]
    table = client.table
    lineage = client.last["lineage"]
    n_log = _count_rows(state["changelog"])
    res.shape = {
        "rounds": len(rec.durations(COMMIT)),
        "events": sum(r["events_in"] for r in lineage),
        "events_in_log": n_log,
        "target_empty": all(state["empty_before"]),
        "applied_share": _applied_share(lineage),
        "files_per_bucket": _files_per_bucket(table),
        "delta_depth": _delta_depth(table),
    }
    with res.phase("checks"):
        if ctx.checks:
            expected = expected_state(state["changelog"])
            res.check("state_vs_oracle", lambda: _check_state(spark, table, expected))
            res.check("scan_vs_oracle", lambda: _expect(
                (state["scan"]["rows"], state["scan"]["tokens"]),
                (len(expected), int(expected["tokens"].map(len).sum())), "scan (rows, tokens)"))
        res.check("change_feed_vs_diff", lambda: _check_feed(spark, table, client.last))
        res.check("shape_event_count", lambda: _expect(res.shape["events"], n_log,
                                                       "events applied"))
        res.check("shape_target_empty", lambda: _expect(res.shape["target_empty"], True,
                                                        "target empty before each load"))
    shutil.rmtree(state["dir"])
    if ctx.traced:
        with res.phase("leaves"):
            query_leaves(ctx, res)
    return res


# ------------------------------------------------------------ query leaves
def query_leaves(ctx: Ctx, res: Result) -> None:
    """One pass over the query leaves on tables generated from the seed at
    the sf0.01 shape: first each leaf against its DuckDB oracle (untimed;
    it also warms the leaf up), then the timed pass, each leaf into the
    noop sink under its own job group."""
    from sfdata import write_tables

    from recidiviz_data_spark.operators import registry
    from recidiviz_data_spark.plans.contract_check import compare, duck_connection

    spark, rec = ctx.spark, ctx.rec
    sf = ctx.path("sf")
    write_tables(sf, ctx.seed)
    fns = {name: registry.QUERIES.get(name) or registry.EXTRA_QUERIES[name]
           for _, name in LEAVES}
    oracles = {**registry.EXTRA_ORACLES, **registry.ORACLES}
    con = duck_connection(sf)
    try:
        for module, name in LEAVES:
            res.check(f"leaf_module.{name}", lambda: _expect(
                fns[name].__module__.rsplit(".", 1)[-1], module, f"{name} module"))
            res.check(f"leaf_vs_oracle.{name}", lambda: compare(
                fns[name](spark, sf), con.execute(oracles[name]).df(), name=name))
    finally:
        con.close()

    def one_pass() -> None:
        for module, name in LEAVES:
            rec.quiesce()
            res.attempted += 1
            with rec.call(leaf_layer(module, name)):
                fns[name](spark, sf).write.mode("overwrite").format("noop").save()

    _timed(ctx, res, one_pass)
    ran = [name for module, name in LEAVES if rec.durations(leaf_layer(module, name))]
    res.shape["leaves_ran"] = len(ran)
    res.check("shape_every_leaf_ran", lambda: _expect(len(ran), len(LEAVES), "leaves timed"))


# ---------------------------------------------------------------- cdc_tail
def cdc_tail(ctx: Ctx) -> Result:
    """A bootstrapped base snapshot, then a fixed sequence of small tail
    batches applied one at a time. After each commit a consumer looks up a
    few Zipf keys with ``read_keys`` and reads the commit's change feed with
    ``table_changes`` restricted to ``changed_buckets``.

    The warm-up commits the whole sequence on a scratch bootstrap. The
    engine is deterministic, so the warm-up also shows whether the sequence
    compacts a bucket; a sequence that does not is redrawn (next tail seed),
    so every timed round covers a whole compaction cycle. The timed round
    applies the sequence to a fresh bootstrap. A traced run then syncs the
    three views over one more batch."""
    from recidiviz_data_spark.cdc.apply import bootstrap_table
    from recidiviz_data_spark.gen import gen_base_table, gen_changelog

    spark, rec, res = ctx.spark, ctx.rec, Result(ctx.checks)
    base, tail = ctx.path("base.parquet"), ctx.path("tail")

    def setup(name: str, tail_seed: int):
        t0 = time.perf_counter()
        gen_base_table(base, n_docs=CDC_DOCS, seed=ctx.seed)
        # the tail's event_seq restarts at 0; bootstrapped rows carry _seq=-1,
        # so every tail event supersedes the base (no stale trap). One batch
        # past the sequence feeds the view syncs of a traced run.
        shutil.rmtree(tail, ignore_errors=True)
        gen_changelog(tail, n_docs=CDC_DOCS, n_events=CDC_BATCH_EVENTS * (CDC_BATCHES + 1),
                      n_batches=CDC_BATCHES + 1, seed=tail_seed, **GEN_KW)
        table = bootstrap_table(spark, ctx.path(name), spark.read.parquet(base),
                                num_buckets=CDC_BUCKETS)
        return table, time.perf_counter() - t0

    def apply_tail(client: Client, fractions: list[float]) -> None:
        for b in range(CDC_BATCHES):
            client.commit(tail, b)
            for _ in range(LOOKUPS_PER_COMMIT):
                client.lookup()
            client.changes()
            fractions.append(len(client.last["changed"]) / CDC_BUCKETS)

    def warm_up(client: Client) -> None:
        """The sequence's commits, then one lookup and one change feed."""
        for b in range(CDC_BATCHES):
            client.commit(tail, b)
        client.lookup()
        client.changes()

    with res.phase("warmup"):
        for draw in range(CDC_TAIL_DRAWS):
            tail_seed = ctx.seed + 1 + 1000 * draw
            warm, _ = setup("warm", tail_seed)
            warm_client = Client(ctx, res, warm, CDC_DOCS)
            warm_up(warm_client)
            shutil.rmtree(ctx.path("warm"))
            if _compactions(warm_client.lineage):
                break
    setups = 1 if ctx.traced or ctx.trace_base else CDC_SETUPS
    with res.phase("setup"):
        for i in range(setups):  # the last set-up is the timed round's table
            rec.quiesce()
            table, secs = setup(f"table{i}", tail_seed)
            res.setup_s.append(secs)
            if i < setups - 1:
                shutil.rmtree(ctx.path(f"table{i}"))
    client = Client(ctx, res, table, CDC_DOCS)
    fractions: list[float] = []
    with res.phase("timed"):
        _timed(ctx, res, lambda: apply_tail(client, fractions))

    lin = client.lineage
    modes = [r["write_mode"] for r in lin if "write_mode" in r]
    res.shape = {
        "tail_draws": draw + 1,
        "batches": len(rec.durations(COMMIT)),
        "events": res.events,
        "applied_share": _applied_share(lin),
        "changed_bucket_fraction": fractions,
        "mor_share": modes.count("mor") / max(len(modes), 1),
        "compacting_batches": _compactions(lin),
        "files_per_bucket": _files_per_bucket(table),
        "delta_depth": _delta_depth(table),
    }
    with res.phase("checks"):
        if ctx.checks:
            res.check("state_vs_oracle", lambda: _check_state(
                spark, table, _expected_tail(base, tail, CDC_BATCHES - 1)))
        res.check("change_feed_vs_diff", lambda: _check_feed(spark, table, client.last))
        res.check("shape_applied_share", lambda: _expect(
            res.shape["applied_share"] > 0, True, "applied share > 0"))
        res.check("shape_mor_present", lambda: _expect(
            res.shape["mor_share"] > 0, True, "merge-on-read deltas written"))
        res.check("shape_compaction", lambda: _expect(
            res.shape["compacting_batches"] >= 1, True, "a compacting commit in the round"))
    if ctx.traced:
        with res.phase("views"):
            views(ctx, res, client)
    return res


def views(ctx: Ctx, res: Result, client: Client) -> None:
    """The consumer's three views (agg, distinct, top-k of ``n_tok`` per
    ``source``): built on the table after the timed round (untimed), then
    one more tail batch is committed and ``index_sync_hook`` advances all
    three (timed). The views must then equal a direct aggregate of the final
    snapshot, and most syncs must have run incrementally."""
    from recidiviz_data_spark.streaming.microbatch import index_sync_hook

    spark, rec, table = ctx.spark, ctx.rec, client.table
    paths = {k: ctx.path(f"view_{k}") for k in ("agg", "distinct", "topk")}
    results: list[dict] = []
    hook = index_sync_hook(
        spark,
        agg_views=[(paths["agg"], VIEW_GROUP, VIEW_VALUE)],
        distinct_views=[(paths["distinct"], VIEW_GROUP, VIEW_VALUE)],
        topk_views=[(paths["topk"], VIEW_GROUP, VIEW_VALUE, VIEW_K)],
        results=results,
    )
    hook(table, CDC_BATCHES - 1)  # the initial build: rebuilds, untimed
    client.commit(ctx.path("tail"), CDC_BATCHES)
    built = len(results)

    def sync() -> None:
        rec.quiesce()
        res.attempted += 1
        with rec.call(HOOK):
            hook(table, CDC_BATCHES)

    _timed(ctx, res, sync)
    synced = results[built:]
    share = sum(r["action"] == "incremental" for r in synced) / max(len(synced), 1)
    res.shape["view_syncs"] = [r["action"] for r in synced]
    res.shape["incremental_share"] = share
    res.check("views_vs_snapshot", lambda: _check_views(spark, table, paths))
    res.check("shape_incremental_majority", lambda: _expect(
        share > 0.5, True, "incremental share of view syncs > 0.5"))


WORKLOADS = {"bulk_load": bulk_load, "cdc_tail": cdc_tail}


# ------------------------------------------------------------------ checks
def _expect(got, want, what: str) -> None:
    if got != want:
        raise AssertionError(f"{what}: got {got!r}, want {want!r}")


def _count_rows(changelog_dir: str) -> int:
    import pyarrow.dataset as ds

    return ds.dataset(changelog_dir, format="parquet", partitioning="hive").count_rows()


def _applied_share(lineage: list[dict]) -> float:
    events = sum(r["events_in"] for r in lineage)
    return sum(r["applied"] + r["deleted"] for r in lineage) / max(events, 1)


def _files_per_bucket(table) -> float:
    summ = table.bucket_summaries(table.manifest())
    return statistics.fmean(s["n_files"] for s in summ.values()) if summ else 0.0


def _delta_depth(table) -> float:
    """Mean number of merge-on-read delta files per bucket."""
    m = table.manifest()
    deltas = sum(1 for f in table.files(manifest=m) if f.get("kind") == "delta")
    return deltas / m["num_buckets"]


def _compactions(lineage: list[dict]) -> int:
    """Batches that rewrote every changed bucket copy-on-write."""
    by_batch: dict[int, set] = {}
    for r in lineage:
        if "write_mode" in r:
            by_batch.setdefault(r["batch_id"], set()).add(r["write_mode"])
    return sum(1 for modes in by_batch.values() if modes == {"cow"})


def _check_state(spark, table, expected) -> None:
    from recidiviz_data_spark.oracle import assert_state_equal

    assert_state_equal(table.read(spark).toPandas(), expected)


def _expected_tail(base: str, tail: str, last_batch: int):
    """LWW fold of base snapshot + tail: the oracle's fold of the tail for
    every document the tail touched, the base row for every other one."""
    import duckdb

    from recidiviz_data_spark.oracle import expected_state_sql

    con = duckdb.connect()
    try:
        return con.execute(f"""
            WITH tail AS ({expected_state_sql(tail, last_batch)})
            SELECT doc_id, tokens, n_tok, source FROM tail
            UNION ALL
            SELECT doc_id, tokens, CAST(n_tok AS BIGINT), source
            FROM read_parquet('{base}')
            WHERE doc_id NOT IN (
              SELECT doc_id FROM read_parquet('{tail}/batch_id=*/*.parquet',
                                              hive_partitioning=true)
              WHERE batch_id <= {last_batch})
        """).df()
    finally:
        con.close()


def _check_feed(spark, table, last: dict) -> None:
    """The bucket-pruned change feed of the last commit equals a diff of its
    two full snapshots, computed here in Python."""
    def snap(v):
        return {r["doc_id"]: (None if r["tokens"] is None else tuple(r["tokens"]),
                              r["n_tok"], r["source"])
                for r in table.read(spark, version=v).collect()}

    old, new = snap(last["v0"]), snap(last["v1"])
    want = set()
    for k in old.keys() | new.keys():
        if k not in old:
            want.add(("I", k, new[k]))
        elif k not in new:
            want.add(("D", k, None))
        elif old[k] != new[k]:
            want.add(("U", k, new[k]))
    got = {(r["op"], r["doc_id"],
            None if r["op"] == "D" else
            (None if r["tokens"] is None else tuple(r["tokens"]), r["n_tok"], r["source"]))
           for r in last["feed"]}
    _expect(len(last["feed"]), len(want), "change events")
    _expect(got, want, "change feed")


def _check_views(spark, table, paths: dict[str, str]) -> None:
    """Each view equals the same aggregate computed here, in pandas, from
    the final snapshot."""
    from recidiviz_data_spark.operators.aggview import (
        agg_view_read,
        distinct_view_read,
        topk_view_read,
    )

    g, v = VIEW_GROUP, VIEW_VALUE
    snap = table.read(spark).select("doc_id", g, v).toPandas()
    by = snap.groupby(g)[v]
    want_agg = {(k, int(n), int(s), int(lo), int(hi)) for k, n, s, lo, hi in zip(
        by.size().index, by.size(), by.sum(), by.min(), by.max())}
    got_agg = {(r[g], r["n_rows"], int(r["sum_val"]), r["min_val"], r["max_val"])
               for r in agg_view_read(spark, paths["agg"]).collect()}
    _expect(got_agg, want_agg, "agg view")
    want_distinct = {(k, int(n)) for k, n in by.nunique().items()}
    got_distinct = {(r[g], r["n_distinct"])
                    for r in distinct_view_read(spark, paths["distinct"]).collect()}
    _expect(got_distinct, want_distinct, "distinct view")
    ranked = snap.sort_values([g, v, "doc_id"], ascending=[True, False, True])
    ranked["rnk"] = ranked.groupby(g).cumcount() + 1
    want_topk = {(r[g], int(r["rnk"]), r["doc_id"], int(r[v]))
                 for _, r in ranked[ranked["rnk"] <= VIEW_K].iterrows()}
    got_topk = {(r[g], r["rnk"], r["doc_id"], r[v])
                for r in topk_view_read(spark, paths["topk"]).collect()}
    _expect(got_topk, want_topk, "top-k view")
