"""The benchmark workloads.

Each workload generates its inputs from the seed (``generate``), does its
one-time Spark-side preparation (``prepare``), runs untimed operations to let
caches fill and code compile (``warm``), then runs timed operations in a
closed loop with one client (``op``), each given its input by
``next_input`` outside the timed region.  After the loop ``verify`` checks
the outputs against DuckDB and returns how many operations failed.
``trace`` runs the same operation with every layer forced on its own
inside a span and returns the per-layer figures.

All timed results are materialized with a full-column checksum
(``materialize``): ``count()`` would let Catalyst prune projections and
time only the scan.
"""

from __future__ import annotations

import os
import shutil
import statistics

import duckdb
import numpy as np
from pyspark.sql import functions as F

from gen import EventSource, write_corpus
from spans import total

from streamsum_spark import cached, sinks
from streamsum_spark.config import DEFAULT_CONFIG
from streamsum_spark.operators import clusters, dedup
from streamsum_spark.operators.caches import count_cache
from streamsum_spark.operators.extract import extract_events
from streamsum_spark.operators.transform import transform_fanout
from streamsum_spark.pipeline import (
    DEFAULT_FACTORIES,
    build_caches,
    cache_tuples,
    count_cache_view,
)
from streamsum_spark.queries.count_summary import CountSummaryTable
from streamsum_spark.tables import table


def materialize(df, ids_col: str | None = None):
    """(rows, checksum[, sorted ids]) of ``df`` in one Spark job: every
    column of every row is hashed, and only scalars (plus the id list,
    when asked) come back to the driver."""
    cols = ", ".join(f"`{c}`" for c in df.columns)
    aggs = [F.expr(f"bit_xor(xxhash64({cols}))"), F.count(F.lit(1))]
    if ids_col:
        aggs.append(F.collect_list(ids_col))
    row = df.agg(*aggs).collect()[0]
    out = (int(row[1]), int(row[0] or 0))
    return out + (sorted(row[2]),) if ids_col else out


def p50(xs):
    return statistics.median(xs) if xs else 0.0


def _count_pairs():
    """(pred, action) of every count-shaped output of the default config."""
    kinds = {c.name: c.kind for c in DEFAULT_CONFIG.caches}
    return [(p.pred, t.action) for p in DEFAULT_CONFIG.patterns for t in p.outputs
            if kinds[t.cache] == "count" and t.action is not None]


def count_oracle_sql(events: str) -> str:
    """DuckDB count cache (subject, action, obj, cnt, latest_ts) over an
    events relation, written from the config's patterns."""
    arms = " UNION ALL ".join(
        f"SELECT CAST(user_id AS VARCHAR) AS subject, '{a}' AS action, "
        f"json_extract_string(props, '$.k') AS obj, ts FROM {events} "
        f"WHERE event_type = '{p}' AND json_extract_string(props, '$.k') IS NOT NULL"
        for p, a in _count_pairs())
    return (f"SELECT subject, action, obj, count(*) AS cnt, max(ts) AS latest_ts "
            f"FROM ({arms}) GROUP BY ALL")


class Workload:
    name = ""
    why = ""
    unit = ""           # what throughput counts
    min_ops = 3         # timed operations per run, whatever --seconds says
    trace_ops = 2       # operations in each loop of a traced run
    op_spans: tuple = ()  # traced spans that together make one operation
    ingest_dir: str | None = None  # event log a traced run also builds on 1 core

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.info: dict = {}
        self.trace_checks: list[bool] = []

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def prepare(self) -> None:
        """Spark-side preparation on the generated inputs (runs once)."""

    def next_input(self, i):
        """Input of the i-th timed operation, made before its clock starts."""

    def trace_log(self, tr, groups) -> dict:
        return {}


def trace_ingest(tr, spark, d) -> dict:
    """Per-layer figures of the batch ingest path (tables -> extract ->
    transform -> the caches of DEFAULT_CONFIG) over the event log in
    ``d``.  Each stage is forced on its own: scan, +extract, +transform,
    each stage's own cost being its time minus the time of the stage it
    consumes; then each cache alone over the fanned-out tuples held in
    memory.  ``ingest.build`` is the untouched build of all caches."""
    for _ in range(2):  # the first build of the path is cold
        with tr.span("ingest.build", "ingest"):
            for df in build_caches(spark, d).values():
                materialize(df)
    with tr.span("tables.scan", "ingest") as s:
        rows_in = materialize(table(spark, d, "events"))[0]
    scan = s["end"] - s["start"]
    with tr.span("extract", "ingest") as s:
        rows_ext = materialize(extract_events(table(spark, d, "events")))[0]
    ext = s["end"] - s["start"]
    with tr.span("transform", "ingest") as s:
        rows_tr = materialize(cache_tuples(spark, d))[0]
    trn = s["end"] - s["start"]
    # routed the way build_caches routes them
    tuples = cache_tuples(spark, d).persist()
    materialize(tuples)
    per_kind = {k: 0.0 for k in ("assoc", "lastn", "count", "keycount")}
    for c in DEFAULT_CONFIG.caches:
        routed = tuples.where(F.col("cache_key") == c.name)
        with tr.span(f"caches.{c.kind}", "ingest") as s:
            materialize(DEFAULT_FACTORIES[c.kind](routed, DEFAULT_CONFIG))
        per_kind[c.kind] += s["end"] - s["start"]
    tuples.unpersist()
    return {
        "tables.scan_s": scan,
        "extract.busy_s": max(0.0, ext - scan),
        "extract.rows_out": rows_ext,
        "transform.busy_s": max(0.0, trn - ext),
        "transform.tuples_out": rows_tr,
        "transform.fanout": rows_tr / max(1, rows_in),
        **{f"caches.{k}_s": v for k, v in per_kind.items()},
    }


def ingest_log(tr, groups, n_events) -> dict:
    t = total(groups, tr.ids("ingest.build")[-1:])
    return {"pipeline.jobs": t["jobs"], "pipeline.shuffle_bytes": t["shuffle_bytes"],
            "pipeline.scan_amplification": t["records_read"] / n_events}


class SummaryQueries(Workload):
    name = "summary_queries"
    why = ("read API over a stored count cache: fixed per-call cost dominates and "
           "ingest never runs; hot subjects repeat, ~10% are unknown (misses)")
    unit = "calls"
    METHODS = ("getCount", "actionsForSubj", "countsForSubjAction", "sumCounts",
               "tuplesForSubjAction")
    min_ops = 100
    trace_ops = 30
    op_spans = tuple(f"query.{m}" for m in METHODS)
    N_EVENTS = 50_000
    WARM_CALLS = 40

    def generate(self, rep):
        self.dir = self.path(f"log{rep}")
        src = EventSource(self.seed)
        self.info = {"events": src.write(self.N_EVENTS, self.dir), "params": src.params}
        self.users = src.users

    def prepare(self):
        self.cache_path = self.path("count_cache")
        sinks.write_cache_parquet(count_cache_view(self.spark, self.dir), self.cache_path)
        self.api = CountSummaryTable.from_parquet(self.spark, self.cache_path)
        con = duckdb.connect()
        keys = con.sql(f"SELECT subject, action, obj FROM '{self.cache_path}/*.parquet'"
                       ).fetchall()
        con.close()
        self.by_subj: dict[str, list] = {}
        for s, a, o in keys:
            self.by_subj.setdefault(s, []).append((a, o))
        self.actions = sorted({a for _, a in _count_pairs()})
        self.info["cache_rows"] = len(keys)
        self.calls = []

    def draw(self, rng):
        """One seeded call: Zipf subject (10% unknown).  Methods come in
        shuffled rounds of all five, so every run has the same mix and the
        percentiles do not shift with the mix of one seed."""
        if not self.deck:
            self.deck = list(rng.permutation(self.METHODS))
        m = self.deck.pop()
        if rng.random() < 0.10:
            subj = f"unknown-{rng.integers(1_000_000)}"
        else:
            subj = str(self.users.sample(rng, 1)[0])
        known = self.by_subj.get(subj)
        if m == "getCount":
            if known and rng.random() < 0.8:
                a, o = known[rng.integers(len(known))]
            else:
                a, o = self.actions[rng.integers(len(self.actions))], str(rng.integers(20_000))
            return m, (subj, a, o), {}
        if m == "actionsForSubj":
            return m, (subj,), {}
        if m == "tuplesForSubjAction":
            return m, (subj,), {"comparator": "count_time"}
        k = rng.integers(0, len(self.actions) + 1)
        acts = tuple(sorted(rng.choice(self.actions, k, replace=False)))
        return m, (subj, *acts), {}

    def call(self, m, args, kw):
        return getattr(self.api, m)(*args, **kw)

    def warm(self):
        rng = np.random.default_rng([self.seed, 3])
        self.deck = []
        for _ in range(self.WARM_CALLS):
            self.call(*self.draw(rng))
        self.rng = np.random.default_rng([self.seed, 4])
        self.deck = []

    def op(self, i, _):
        m, args, kw = self.draw(self.rng)
        out = self.call(m, args, kw)
        self.calls.append((m, args, out))
        return 1

    def expected(self, con, m, args):
        subj, acts = args[0], list(args[1:])
        where = "subject = $s" + (" AND list_contains($a, action)" if acts else "")
        p = {"s": subj, "a": acts} if acts else {"s": subj}
        if m == "getCount":
            r = con.execute("SELECT cnt, latest_ts FROM cc WHERE subject = $s AND "
                            "action = $a AND obj = $o",
                            {"s": subj, "a": args[1], "o": args[2]}).fetchall()
            return (args[2], r[0][0], r[0][1]) if r else (args[2], 0, None)
        if m == "actionsForSubj":
            return sorted(r[0] for r in con.execute(
                "SELECT DISTINCT action FROM cc WHERE subject = $s", {"s": subj}).fetchall())
        if m == "countsForSubjAction":
            return sorted(tuple(r) for r in con.execute(
                f"SELECT obj, sum(cnt), max(latest_ts) FROM cc WHERE {where} GROUP BY obj",
                p).fetchall())
        if m == "sumCounts":
            return int(con.execute(f"SELECT coalesce(sum(cnt), 0) FROM cc WHERE {where}",
                                   p).fetchone()[0])
        return [tuple(r) for r in con.execute(
            "SELECT subject, action, obj, cnt, latest_ts FROM cc WHERE subject = $s "
            "ORDER BY cnt DESC, latest_ts DESC, subject, action, obj", {"s": subj}).fetchall()]

    def verify(self):
        con = duckdb.connect()
        con.execute(f"CREATE TABLE cc AS SELECT * FROM '{self.cache_path}/*.parquet'")
        bad = sum(out != self.expected(con, m, args) for m, args, out in self.calls)
        con.close()
        return bad

    def trace(self, tr):
        rng = np.random.default_rng([self.seed, 5])
        self.deck = []
        self.returned = 0
        for n in range(1, self.trace_ops + 1):
            m, args, kw = self.draw(rng)
            with tr.span(f"query.{m}", f"op{n}"):
                out = self.call(m, args, kw)
            self.returned += len(out) if isinstance(out, list) else 1
        out = {f"query.{m}_p50_ms": 1000 * p50(tr.durations(f"query.{m}"))
               for m in self.METHODS}
        # the dedup layer has no workload of its own (see NOTES.md)
        corpus = write_corpus(self.seed, N_DOCS, self.path("corpus"))
        layers, ok = trace_dedup(tr, self.spark, self.path("corpus"), corpus["family"])
        self.trace_checks.append(ok)
        return out | layers

    def trace_log(self, tr, groups):
        ids = [i for m in self.METHODS for i in tr.ids(f"query.{m}")]
        t = total(groups, ids)
        return {"query.jobs_per_call": t["jobs"] / max(1, len(ids)),
                "query.rows_read_per_row_returned": t["records_read"] / max(1, self.returned)}


KEY = ["subject", "action", "obj"]


class StateMerge(Workload):
    name = "state_merge"
    why = ("micro-batches fold into a 16-bucket state table far larger than a "
           "batch, and reads share the table: shows merge, commit and lookup cost")
    unit = "events"
    op_spans = ("sinks.accumulate_batch", "sinks.lookup_state_keys")
    N_SEED = 100_000
    N_SHARD = 10_000
    N_BUCKETS = 16
    LOOKUP_KEYS = 5
    N_INGEST = 30_000
    WARM_STEPS = 2

    def delta(self, d):
        # projected to the key and sum columns: accumulate_batch drops the
        # other columns of count_cache (latest_ts) on the first write and
        # then refuses the next batch (NUM_COLUMNS_MISMATCH); see NOTES.md
        return count_cache(transform_fanout(extract_events(table(self.spark, d, "events")))
                           ).select(*KEY, "cnt")

    def generate(self, rep):
        self.src = EventSource(self.seed)
        seed_dir = self.path(f"seed_log{rep}")
        self.info = {"seed_log": self.src.write(self.N_SEED, seed_dir),
                     "params": self.src.params, "shard_events": self.N_SHARD}
        self.logs = [seed_dir]

    def prepare(self):
        self.seed_state = self.path("seed_state")
        sinks.accumulate_batch(self.spark, self.seed_state, self.delta(self.logs[0]), KEY,
                               ["cnt"], epoch_id=0, run_id="seed", n_buckets=self.N_BUCKETS)
        self.info["seed_state_bytes"] = _tree_bytes(self.seed_state)
        self.lookups = []

    def fresh_table(self, name):
        dst = self.path(name)
        shutil.rmtree(dst, ignore_errors=True)
        shutil.copytree(self.seed_state, dst)
        return dst

    def shard(self, src, i: int):
        """Write shard ``i`` of ``src`` and draw the keys to look up."""
        d = self.path(f"shard{i}")
        src.write(self.N_SHARD, d)
        ev = duckdb.sql(
            f"SELECT DISTINCT CAST(user_id AS VARCHAR), event_type, "
            f"json_extract_string(props, '$.k') FROM '{d}/events.parquet' "
            f"WHERE event_type IN ({', '.join(repr(p) for p, _ in _count_pairs())}) "
            f"ORDER BY ALL").fetchall()
        action = dict(_count_pairs())
        rng = np.random.default_rng([self.seed, 6, i])
        keys = [(s, action[p], o) for s, p, o in
                (ev[j] for j in rng.choice(len(ev), self.LOOKUP_KEYS, replace=False))]
        return d, keys

    def step(self, state, d, keys, epoch):
        sinks.accumulate_batch(self.spark, state, self.delta(d), KEY, ["cnt"],
                               epoch_id=epoch, run_id="bench", n_buckets=self.N_BUCKETS)
        return sinks.lookup_state_keys(self.spark, state, KEY, keys).select(*KEY, "cnt").collect()

    def warm(self):
        state = self.fresh_table("warm_state")
        src = EventSource(self.seed + 1_000_003)
        for i in range(self.WARM_STEPS):
            d, keys = self.shard(src, 1000 + i)
            self.step(state, d, keys, i + 1)
        shutil.rmtree(state)
        self.state = self.fresh_table("state")

    def next_input(self, i):
        return self.shard(self.src, i)

    def op(self, i, shard):
        d, keys = shard
        self.logs.append(d)
        rows = self.step(self.state, d, keys, i + 1)
        self.lookups.append((len(self.logs), keys, {tuple(r[:3]): r[3] for r in rows}))
        return self.N_SHARD

    def verify(self):
        con = duckdb.connect()
        con.execute("CREATE TABLE ev AS " + " UNION ALL ".join(
            f"SELECT *, {j} AS step FROM '{d}/events.parquet'" for j, d in enumerate(self.logs)))
        bad = 0
        for upto, keys, got in self.lookups:
            exp = dict(((s, a, o), c) for s, a, o, c, _ in con.sql(
                count_oracle_sql(f"(SELECT * FROM ev WHERE step < {upto})")).fetchall()
                if (s, a, o) in set(keys))
            bad += got != exp
        con.close()
        return bad

    def trace(self, tr):
        self.ingest_dir = self.path("ingest_log")
        EventSource(self.seed + 3_000_003).write(self.N_INGEST, self.ingest_dir)
        out = trace_ingest(tr, self.spark, self.ingest_dir)
        state = self.fresh_table("trace_state")
        src = EventSource(self.seed + 2_000_003)
        stats = {"delta": [], "acc": [], "lookup": [], "rewritten": [], "amp": []}
        for n in range(1, self.trace_ops + 1):
            op = f"op{n}"
            d, keys = self.shard(src, 2000 + n)
            with tr.span("state.delta", op) as s:
                rows, _ = materialize(self.delta(d))
            stats["delta"].append(s["end"] - s["start"])
            # the delta's own parquet size is the base of write amplification
            dpath = self.path(f"delta_t{n}")
            self.delta(d).write.parquet(dpath)
            before = _files(state)
            with tr.span("sinks.accumulate_batch", op) as s:
                sinks.accumulate_batch(self.spark, state, self.delta(d), KEY, ["cnt"],
                                       epoch_id=n, run_id="trace", n_buckets=self.N_BUCKETS)
            stats["acc"].append(s["end"] - s["start"])
            after = _files(state)
            new = {p: sz for p, sz in after.items() if before.get(p) != sz}
            stats["rewritten"].append(len({p.split(os.sep)[0] for p in new if p.startswith("kb=")}))
            stats["amp"].append(sum(new.values()) / max(1, _tree_bytes(dpath)))
            with tr.span("sinks.lookup_state_keys", op) as s:
                sinks.lookup_state_keys(self.spark, state, KEY, keys).collect()
            stats["lookup"].append(s["end"] - s["start"])
        files = _files(state)
        return out | {
            "state.delta_s": p50(stats["delta"]),
            "sinks.accumulate_batch_p50_s": p50(stats["acc"]),
            "sinks.lookup_state_keys_p50_ms": 1000 * p50(stats["lookup"]),
            "sinks.buckets_rewritten_per_batch": p50(stats["rewritten"]),
            "sinks.write_amplification": p50(stats["amp"]),
            "sinks.state_bytes": sum(files.values()),
            "sinks.state_files": sum(p.endswith(".parquet") for p in files),
        }

    def trace_log(self, tr, groups):
        ids = tr.ids("sinks.accumulate_batch")
        return ingest_log(tr, groups, self.N_INGEST) | {
            "sinks.jobs_per_commit": total(groups, ids)["jobs"] / max(1, len(ids))}


N_DOCS = 1_000
RECALL_FLOOR = 0.95


def dedup_recall(survivors, family, n_docs) -> float | None:
    """Recall of planted duplicates removed, or None when a dropped doc
    belongs to no planted family (a false positive)."""
    kept = set(survivors)
    if any(d not in family for d in range(n_docs) if d not in kept):
        return None
    size, kept_n = {}, {}
    for d, f in family.items():
        size[f] = size.get(f, 0) + 1
        kept_n[f] = kept_n.get(f, 0) + (d in kept)
    caught = sum(size[f] - max(1, kept_n[f]) for f in size)
    return caught / sum(n - 1 for n in size.values())


def trace_dedup(tr, spark, d, family) -> tuple[dict, bool]:
    """Per-layer figures of operators.dedup / operators.clusters / cached
    over the corpus in ``d``, forced stage by stage: signatures, LSH
    candidates, verified pairs, connected components over the persisted
    pairs, then the whole ``clusters.dedup_corpus``.  Also returns whether
    its survivors pass the planted-family check."""
    materialize(clusters.dedup_corpus(spark, d))  # the first runs are cold
    with tr.span("dedup.signatures", "dedup") as s:
        materialize(dedup.minhash_signatures(spark, d))
    sig = s["end"] - s["start"]
    with tr.span("dedup.candidates", "dedup"):
        cand = materialize(dedup.lsh_candidate_pairs(spark, d))[0]
    with tr.span("dedup.near_dup_verified", "dedup") as s:
        verified = materialize(dedup.near_dup_verified(spark, d))[0]
    ndv = s["end"] - s["start"]
    pairs = dedup.near_dup_verified(spark, d).persist()
    materialize(pairs)
    with tr.span("clusters.connected_components", "dedup") as s:
        materialize(clusters.connected_components(pairs))
    cc = s["end"] - s["start"]
    pairs.unpersist()
    with tr.span("clusters.dedup_corpus", "dedup"):
        survivors = materialize(clusters.dedup_corpus(spark, d), ids_col="doc_id")[2]
    recall = dedup_recall(survivors, family, N_DOCS)
    return {
        "dedup.signatures_s": sig,
        "dedup.candidates": cand,
        "dedup.verified_pairs": verified,
        "dedup.verify_yield": verified / max(1, cand),
        "dedup.near_dup_verified_s": ndv,
        "clusters.connected_components_s": cc,
        "cached.persisted_after_run": len(cached._TRACKED),
    }, recall is not None and recall >= RECALL_FLOOR


def _files(root) -> dict[str, int]:
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


def _tree_bytes(root) -> int:
    return sum(_files(root).values())


WORKLOADS = {w.name: w for w in (SummaryQueries, StateMerge)}
