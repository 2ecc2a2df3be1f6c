"""The ``watch-tree`` workload: closed-loop watcher ticks over generated
file trees, on each state store.

One caller runs a tick, waits for it, and only then mutates the tree.
The parquet ``StateStore`` watches a tree of about 3·10³ files: it
indexes the tree once (the cold tick); after unmeasured churn ticks
that let the JIT compiler catch up, rounds of an idle tick (nothing
changed) and a churn tick (about 1 % of the files created or deleted)
run for ``--seconds``, at least five.
Cold ticks write all of the store, churn ticks read all of it and
rewrite some, idle ticks should never reach it. The traced run adds
``CowStateStore`` and ``JdbcStateStore`` (embedded Derby) on a tree of
about 1.4·10³ files; see ``run``.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

from files_kraken_spark.blueprint import Blueprint, FieldType, ParserSpec, Template
from files_kraken_spark.cow_store import CowStateStore
from files_kraken_spark.jdbc_store import JdbcStateStore
from files_kraken_spark.parsers import read_float_file
from files_kraken_spark.session import get_session
from files_kraken_spark.sources.listing import NameMatcher
from files_kraken_spark.sources.snapshot import SnapshotStore
from files_kraken_spark.store import StateStore
from files_kraken_spark.streaming import Workflow
from files_kraken_spark.streaming import runtime as runtime_mod

from .trace import SPAN_KEYS, Tracer, span_metrics
from .tree import Model, Tree

# (runs, samples per run); a tree holds about 2.75 files per sample
PARQUET_TREE = (20, 50)
COW_TREE = (12, 40)
WARMUP_TREE = (2, 2)
SETUP_REPS = 3
SETTLE_CHURNS = 5
MIN_ROUNDS = 5

MATCHER = NameMatcher(patterns=(r"run_\d+\..+",))


def blueprints(parser) -> list[Blueprint]:
    """The two blueprints of ``examples/advanced_example.py``."""
    sample_run = Blueprint(
        name="SampleRunInfo",
        required={"run": (r"(run_\d+)\.", 1), "sample": (r"sample_(\d+)\.", 1)},
        optional={
            "fastqs": (r".+\.fastq\.gz", 0),
            "results_file": Template(r"{run}\.sample_{sample}\.results\.txt"),
        },
        types={"fastqs": FieldType.LIST_PATH, "results_file": FieldType.PATH},
        parsers={
            "result": ParserSpec(returns="double", dependent_fields=("results_file",), fn=parser)
        },
    )
    run_info = Blueprint(
        name="RunInfo",
        required={"run": (r"(run_\d+)\.", 1)},
        optional={"samples": (r"sample_(\d+)\.", 1)},
        types={"samples": FieldType.LIST_STR},
    )
    return [sample_run, run_info]


def counting_parser(acc):
    """``read_float_file`` that adds the rows it is sent to ``acc``."""

    def parse(paths):
        acc.add(len(paths))
        return read_float_file(paths)

    return parse


def _files(root: str) -> dict[str, int]:
    """Size of every file under ``root``."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass  # pruned while we walked
    return out


def _new_bytes(before: dict, after: dict) -> int:
    return sum(s for p, s in after.items() if p not in before)


def _bring_up(spark, work: str, name: str, roots: list[str], parser, **kw) -> Workflow:
    wf = Workflow(spark, name, blueprints(parser), data_dir=os.path.join(work, name, "wf"), **kw)
    wf.add_watcher(roots, matcher=MATCHER)
    return wf


class Leg:
    """One state store watching one tree, with the model beside it."""

    def __init__(self, spark, work: str, name: str, tree: Tree, store, parser, tracer: Tracer):
        self.name, self.tree, self.tracer, self.spark = name, tree, tracer, spark
        self.wf = _bring_up(spark, work, name, tree.roots, parser, state_store=store)
        self.model = Model()
        self.seen: set[str] = set()
        self.ticks: list[dict] = []  # one record per attempted tick
        self.ok = True  # every tick's change count matched the model
        tracer.wrap(self.wf, "process_changes", "process")
        tracer.wrap(self.wf, "_audit", "audit")
        tracer.wrap(self.wf.state, "load", "store.load")
        if isinstance(store, StateStore):
            self._trace_commit()
        else:
            tracer.wrap(store, "overwrite", "store.commit")

    def _trace_commit(self) -> None:
        """Time each commit and count, from the manifest and the files
        before and after it, the buckets and bytes it wrote."""
        store, tracer = self.wf.state, self.tracer
        original = store.overwrite

        def overwrite(bp, df, touched_ids=None):
            before_m = (store._read_manifest(bp.name) or {}).get("buckets", {})
            before_f = _files(store._dir(bp.name))
            with tracer.span("store.commit"):
                v = original(bp, df, touched_ids=touched_ids)
            after_m = (store._read_manifest(bp.name) or {}).get("buckets", {})
            changed = {k for k in set(before_m) | set(after_m) if before_m.get(k) != after_m.get(k)}
            tracer.count("buckets_rewritten", len(changed))
            tracer.count("buckets_total", len(after_m))
            tracer.count("bytes_written", _new_bytes(before_f, _files(store._dir(bp.name))))
            return v

        tracer.patch(store, "overwrite", overwrite)

    def tick(self, kind: str, acc=None) -> None:
        created = set(self.tree.files) - self.seen
        deleted = self.seen - set(self.tree.files)
        self.tracer.counts.clear()
        parsed0 = acc.value if acc is not None else 0
        rec = {"kind": kind, "files": len(self.tree.files), "failed": False}
        t0 = time.perf_counter()
        try:
            with self.tracer.span("tick") as span:
                n = self.wf.run_once()
        except Exception as e:  # a failed tick is counted, and the run goes on
            rec.update(seconds=time.perf_counter() - t0, failed=True)
            first = (str(e).strip().splitlines() or [""])[0]
            print(f"[perfbench] {self.name} {kind} tick failed: {type(e).__name__}: "
                  f"{first[:300]}", file=sys.stderr)
            self.ticks.append(rec)
            return
        rec["seconds"] = time.perf_counter() - t0
        print(f"[perfbench] {self.name} {kind} tick: {rec['seconds']:.3f} s, {n} changes, "
              f"{rec['files']} files", file=sys.stderr)
        rec.update(self.model.apply(created, deleted, self.tree.files))
        rec.update(self.tracer.counts, span=span, changes=n)
        if acc is not None:
            rec["parser_rows"] = acc.value - parsed0
        self.seen = set(self.tree.files)
        if n != len(created) + len(deleted):
            print(f"[perfbench] {self.name} {kind}: {n} change rows, the model has "
                  f"{len(created) + len(deleted)}", file=sys.stderr)
            self.ok = False
        self.ticks.append(rec)

    def check(self) -> bool:
        """Compare the stored state of both blueprints with the model."""
        expect = {"SampleRunInfo": self.model.sample, "RunInfo": self.model.run}
        good = self.ok
        for bp in self.wf.blueprints:
            rows = {r["id"]: r.asDict() for r in self.wf.state.load(self.spark, bp).collect()}
            want = expect[bp.name]
            if set(rows) != set(want):
                print(f"[perfbench] {self.name} {bp.name}: ids differ "
                      f"({len(rows)} stored, {len(want)} expected)", file=sys.stderr)
                good = False
                continue
            for eid, w in want.items():
                got = {k: rows[eid][k] for k in w}
                if got != w:
                    print(f"[perfbench] {self.name} {bp.name} {eid}: stored {got}, "
                          f"expected {w}", file=sys.stderr)
                    good = False
                    break
        return good

    def seconds(self, kind: str) -> list[float]:
        return [t["seconds"] for t in self.ticks if t["kind"] == kind and not t["failed"]]


def _med(xs) -> float | None:
    """The median of ``xs``; None when there is no sample or one of
    them is None (a span or count the run never recorded)."""
    xs = list(xs)
    if not xs or None in xs:
        return None
    return statistics.median(xs)


def run(ctx) -> dict:
    """Set up, run the store legs, check them; return the result."""
    # set-up, timed SETUP_REPS times: get the session and bring up a
    # watcher that polls once. The first time launches the JVM and
    # indexes a tiny tree, a throwaway cold tick so that the measured
    # ticks do not carry class loading and code generation; later times
    # poll an empty root. The tree generator is timed on its own
    # (fixture.build_s): it is benchmark code, and its file creation
    # waits on the disk, so it would only add noise to setup_s.
    setups = []
    empty = os.path.join(ctx.work, "empty")
    os.makedirs(empty)
    warm = Tree(os.path.join(ctx.work, "warmup", "tree"), ctx.seed, *WARMUP_TREE)
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        spark = get_session("perfbench-watch", extra_conf=ctx.conf)
        if rep == 0:
            ctx.layer["session.start_s"] = time.perf_counter() - t0
            spark.sparkContext.setLogLevel("ERROR")
        roots = warm.roots if rep == 0 else [empty]
        _bring_up(spark, ctx.work, f"setup{rep}", roots, read_float_file).run_once()
        setups.append(time.perf_counter() - t0)
    ctx.layer["warmup_s"] = setups[0] - ctx.layer["session.start_s"]

    t0 = time.perf_counter()
    big = Tree(os.path.join(ctx.work, "parquet", "tree"), ctx.seed, *PARQUET_TREE)
    ctx.layer["fixture.build_s"] = time.perf_counter() - t0
    print(f"[perfbench] set-up {setups[0]:.3f} s (warm-up {ctx.layer['warmup_s']:.3f} s), "
          f"then {' '.join(f'{x:.3f}' for x in setups[1:])} s; fixture "
          f"{ctx.layer['fixture.build_s']:.3f} s", file=sys.stderr)

    tracer = Tracer(spark, ctx.trace)
    acc = spark.sparkContext.accumulator(0) if ctx.trace else None
    parser = counting_parser(acc) if ctx.trace else read_float_file
    tracer.wrap(runtime_mod.Watcher, "poll", "poll")
    tracer.wrap(runtime_mod, "list_files", "listing")
    tracer.wrap(SnapshotStore, "load", "snapshot.load")
    save = SnapshotStore.save

    def snapshot_save(self, df):
        before = _files(self.root)
        with tracer.span("snapshot.save"):
            v = save(self, df)
        tracer.count("snapshot_bytes", _new_bytes(before, _files(self.root)))
        return v

    tracer.patch(SnapshotStore, "save", snapshot_save)

    # the measured loop: the parquet cold tick, SETTLE_CHURNS churn
    # ticks that are not measured, then rounds of an idle and a churn
    # tick, at least MIN_ROUNDS and for --seconds. Churn ticks run
    # about a fifth faster after a step that comes between the fourth
    # and the sixth churn of a run, the JVM's JIT compiler catching up
    # with them; measured before it, the median of a run fell on
    # either side of the step. The settling puts the rounds after it.
    p = Leg(spark, ctx.work, "parquet", big,
            StateStore(os.path.join(ctx.work, "parquet", "state")), parser, tracer)
    p.tick("cold", acc)
    for _ in range(SETTLE_CHURNS):
        p.tree.churn()
        p.tick("settle", acc)
    start = time.perf_counter()
    rounds = 0
    while rounds < MIN_ROUNDS or time.perf_counter() - start < ctx.seconds:
        rounds += 1
        p.tick("idle", acc)
        p.tree.churn()
        p.tick("churn", acc)
    legs = [p]
    if ctx.trace:
        # the other two commit protocols, per layer: copy-on-write
        # manifests, and MERGE over JDBC into embedded Derby. JDBC gets
        # no timing metric: its commits fail today (Derby rejects the
        # NULL that Spark binds for a NULL string column); its failed
        # ticks are counted. It watches the cow tree as the cow leg
        # left it.
        small = Tree(os.path.join(ctx.work, "cow", "tree"), ctx.seed + 1, *COW_TREE)
        c = Leg(spark, ctx.work, "cow", small,
                CowStateStore(os.path.join(ctx.work, "cow", "state")), parser, tracer)
        c.tick("cold", acc)
        c.tree.churn()
        c.tick("churn", acc)
        j = Leg(spark, ctx.work, "jdbc", small,
                JdbcStateStore(spark, f"jdbc:derby:{ctx.work}/jdbc/derby;create=true"),
                parser, tracer)
        j.tick("cold", acc)
        j.tree.churn()
        j.tick("churn", acc)
        legs += [c, j]
        ctx.layer.update({
            "cold_tick_s.cow": _med(c.seconds("cold")),
            "churn_tick_s.cow": _med(c.seconds("churn")),
            "jdbc.ops": len(j.ticks),
            "jdbc.ops_failed": sum(t["failed"] for t in j.ticks),
        })

    # untimed: the state each parquet and cow leg reached must equal
    # the model's
    correct = all(leg.check() for leg in legs[:2])
    ctx.layer["driver_peak_rss_mb"] = ctx.driver_rss_mb(spark)
    tracer.close()

    idle, churn = _med(p.seconds("idle")), _med(p.seconds("churn"))
    e2e = {
        "setup_s": _med(setups),
        "cold_s": _med(p.seconds("cold")),
        "steady_s": None if None in (idle, churn) else idle + churn,
    }
    ctx.layer.update({"cold_tick_s": e2e["cold_s"], "idle_tick_s": idle, "churn_tick_s": churn})
    if ctx.trace:
        ctx.layer.update(layer_metrics(tracer, p, c, ctx.event_log(spark)))
    ticks = [t for leg in legs for t in leg.ticks]
    return {
        "correct": correct,
        "attempted": len(ticks),
        "failed": sum(t["failed"] for t in ticks),
        "e2e": e2e,
    }


# ----------------------------------------------------------- per layer

# reported name -> (leg, tick kind, per-tick key); each value is the
# median over the run's ticks of that kind
LAYERS = {
    "listing.list_files_s": ("parquet", "idle", "listing_s"),
    "listing.rows": ("parquet", "idle", "files"),
    "runtime.poll_self_s": ("parquet", "idle", "poll_self_s"),
    "runtime.poll_jobs": ("parquet", "idle", "poll.jobs"),
    "cold.runtime.process_s": ("parquet", "cold", "process_s"),
    "cold.store.commit_s": ("parquet", "cold", "commit_s"),
    "cold.store.bytes_written": ("parquet", "cold", "bytes_written"),
    "cold.assemble.parser_rows": ("parquet", "cold", "parser_rows"),
    "cold.snapshot.save_s": ("parquet", "cold", "snapshot_save_s"),
    "diff.change_rows": ("parquet", "churn", "changes"),
    "runtime.process_s": ("parquet", "churn", "process_s"),
    "runtime.process_driver_gap_s": ("parquet", "churn", "process.driver_gap_s"),
    "runtime.audit_s": ("parquet", "churn", "audit_s"),
    "store.load_s": ("parquet", "churn", "store_load_s"),
    "store.commit_s": ("parquet", "churn", "commit_s"),
    "store.commit_jobs": ("parquet", "churn", "commit.jobs"),
    "store.buckets_rewritten": ("parquet", "churn", "buckets_rewritten"),
    "store.bucket_rewrite_ratio": ("parquet", "churn", "bucket_rewrite_ratio"),
    "store.bytes_written": ("parquet", "churn", "bytes_written"),
    "store.write_amp": ("parquet", "churn", "write_amp"),
    "assemble.parser_rows": ("parquet", "churn", "parser_rows"),
    "assemble.parser_useful_ratio": ("parquet", "churn", "parser_useful_ratio"),
    "assemble.shuffle_bytes": ("parquet", "churn", "commit.shuffle_write_bytes"),
    "assemble.python_bytes": ("parquet", "churn", "commit.python_bytes"),
    "snapshot.save_s": ("parquet", "churn", "snapshot_save_s"),
    "snapshot.bytes_written": ("parquet", "churn", "snapshot_bytes"),
    "cow.cold.store.commit_s": ("cow", "cold", "commit_s"),
    "cow.store.commit_s": ("cow", "churn", "commit_s"),
    "cow.store.buckets_rewritten": ("cow", "churn", "buckets_rewritten"),
    "cow.store.bucket_rewrite_ratio": ("cow", "churn", "bucket_rewrite_ratio"),
    "cow.store.bytes_written": ("cow", "churn", "bytes_written"),
    "cow.store.write_amp": ("cow", "churn", "write_amp"),
}
LAYERS.update({f"{kind}.tick.{k}": ("parquet", kind, f"tick.{k}")
               for kind in ("cold", "idle", "churn") for k in SPAN_KEYS})
# the per-layer metrics this workload reports (run.py fails a traced
# run that leaves one of them without a value)
PER_LAYER = set(LAYERS) | {
    "session.start_s", "fixture.build_s", "warmup_s", "driver_peak_rss_mb", "cold_tick_s",
    "idle_tick_s", "churn_tick_s", "cold_tick_s.cow", "churn_tick_s.cow", "jdbc.ops",
    "jdbc.ops_failed"}


def layer_metrics(tracer: Tracer, p: Leg, c: Leg, log) -> dict:
    jobs, stages = log

    def spans(s, name):
        return [d for d in tracer.descendants(s) if d.name == name]

    def secs(s, name):
        """Seconds in the tick's spans ``name``; None if it had none."""
        found = spans(s, name)
        return sum(d.seconds for d in found) if found else None

    def ratio(a, b):
        return None if a is None or b is None else (a / b if b else 0.0)

    def per_tick(t: dict) -> dict:
        # a value a wrapper should have recorded and did not is None
        s = t["span"]
        listing, poll = secs(s, "listing"), secs(s, "poll")
        out = {
            "files": t["files"],
            "changes": t["changes"],
            "listing_s": listing,
            "poll_self_s": None if None in (listing, poll) else poll - listing,
            "process_s": secs(s, "process"),
            "audit_s": secs(s, "audit"),
            "store_load_s": secs(s, "store.load"),
            "commit_s": secs(s, "store.commit"),
            "snapshot_save_s": secs(s, "snapshot.save"),
            "snapshot_bytes": t.get("snapshot_bytes"),
            "buckets_rewritten": t.get("buckets_rewritten"),
            "bucket_rewrite_ratio": ratio(t.get("buckets_rewritten"), t.get("buckets_total")),
            "bytes_written": t.get("bytes_written"),
            "write_amp": ratio(t.get("bytes_written"), t["sample_touched"] + t["run_touched"]),
            "parser_rows": t.get("parser_rows"),
            "parser_useful_ratio": ratio(t["parser_useful"], t.get("parser_rows")),
        }
        for prefix, group in (("tick", [s]), ("poll", spans(s, "poll")),
                              ("process", spans(s, "process")), ("commit", spans(s, "store.commit"))):
            m = [span_metrics(tracer, d, jobs, stages) for d in group]
            for k in SPAN_KEYS + ("python_bytes",):
                out[f"{prefix}.{k}"] = sum(x[k] for x in m) if m else None
        return out

    recs = {(leg.name, kind): [per_tick(t) for t in leg.ticks if t["kind"] == kind]
            for leg in (p, c) for kind in ("cold", "idle", "churn")}
    return {name: _med(r[key] for r in recs[(leg, kind)])
            for name, (leg, kind, key) in LAYERS.items()}
