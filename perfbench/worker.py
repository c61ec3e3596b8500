"""One measurement: a single Spark process running one workload.

Usage:
  python3 perfbench/worker.py --workload NAME --data DIR --work DIR
      --seconds S --trace 0|1 --result FILE [--spans FILE]

Untraced (``--trace 0``): set up SETUPS times (session start, dictionary
load and plan build, one untimed warm operation; the first also launches
the JVM), then run operations at local[nproc] (CPUS) back to back, each
starting when the last ended, for the whole window. Outputs are checked
after the window, outside the timed operations.

Traced (``--trace 1``): one setup, then the window with every other
operation traced (spans, Spark's status stores read after it; the
difference of the medians is the tracing overhead), then the per-layer
calls and the cumulative noop-sink ladder. Spans stay in memory until the
end.

Writes one JSON document to ``--result``; ``run.py`` turns it into the
benchmark's result line.
"""

from __future__ import annotations

import argparse
import contextlib
import itertools
import json
import os
import re
import shutil
import statistics
import sys
import time
from typing import Dict, List, Optional

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import checks  # noqa: E402
from logstash_filter_translate_spark.config import TranslateConfig  # noqa: E402
from logstash_filter_translate_spark.operators import lookup as L  # noqa: E402
from logstash_filter_translate_spark.operators.translate import Translate  # noqa: E402
from logstash_filter_translate_spark.plans import pipeline as P  # noqa: E402
from logstash_filter_translate_spark.session import build_session  # noqa: E402
from logstash_filter_translate_spark.sources import dictionary as D  # noqa: E402
from logstash_filter_translate_spark.streaming.refresh import StreamingTranslate  # noqa: E402

from tools.scalebench import HostMeter  # noqa: E402

CPUS = os.cpu_count() or 1  # local[nproc]
SETUPS = 2
MIN_OPS = 3
LADDER_ROUNDS = 3


def now() -> float:
    return time.perf_counter()


def parquet_rows(files: List[str]) -> int:
    """Row count from the parquet footers (no Spark job)."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def tail(samples: List[float]):
    """(value, percentile): the highest percentile with at least ten
    samples beyond it, never below the median."""
    s = sorted(samples)
    n = len(s)
    pct = max(50, int(100 * (n - 10) / n)) if n else 50
    idx = min(n - 1, max(0, -(-pct * n // 100) - 1))
    return (statistics.median(s) if pct == 50 else s[idx]), pct


# -- tracing ------------------------------------------------------------------------


class Spans:
    """In-memory spans (name, start, end, parent, run id) of a traced run,
    written out at the end; untraced runs create none."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: List[dict] = []
        self._stack: List[int] = []
        self._t0 = now()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": now() - self._t0,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = now() - self._t0

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


_NUM = re.compile(r"([-\d.,]+)\s*([A-Za-z]*)")
_UNITS = {
    "": 1, "ms": 1e-3, "s": 1, "m": 60, "min": 60, "h": 3600,
    "B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30, "TiB": 2 ** 40,
}


def metric_value(text: str) -> float:
    """A formatted SQL metric ('4.0 MiB', '843 ms', or 'total (min, med,
    max ...)\\n3.6 s (...)') as a number in bytes, seconds or rows."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


class SparkStats:
    """Reads Spark's own stores after a job; adds no job of its own."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.app = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.jvm = self.sc._jvm

    def gc_seconds(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1e3

    def last_execution_id(self) -> int:
        execs = self.sql.executionsList()
        return max((execs.apply(i).executionId() for i in range(execs.size())), default=-1)

    def group(self, name: str) -> Dict[str, float]:
        """Jobs, tasks and spilled bytes of one job group."""
        out = {"jobs": 0, "tasks": 0, "spill_bytes": 0}
        for jid in self.sc.statusTracker().getJobIdsForGroup(name):
            out["jobs"] += 1
            stages = self.app.job(jid).stageIds()
            for i in range(stages.size()):
                try:
                    st = self.app.lastStageAttempt(stages.apply(i))
                except Exception:  # skipped stages have no attempt
                    continue
                out["tasks"] += st.numTasks()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out

    def operators(self, after_execution: int) -> List[dict]:
        """Per-operator SQL metrics of every execution after the given id."""
        rows = []
        execs = self.sql.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            eid = e.executionId()
            if eid <= after_execution:
                continue
            values = self.sql.executionMetrics(eid)
            nodes = self.sql.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                ms = node.metrics()
                for k in range(ms.size()):
                    pm = ms.apply(k)
                    v = values.get(pm.accumulatorId())
                    if v.isDefined():
                        rows.append({
                            "execution": eid, "node": node.name(),
                            "metric": pm.name(), "value": metric_value(v.get()),
                        })
        return rows


#: (per-layer name, plan node pattern, SQL metric pattern), summed per op
OPERATOR_METRICS = [
    ("lookup.python_udf_s", "ArrowEvalPython|BatchEvalPython", "time to run Python"),
    ("lookup.broadcast_bytes", "BroadcastExchange", "^data size$"),
    ("lookup.broadcast_collect_s", "BroadcastExchange", "time to collect"),
    ("pipeline.shuffle_bytes", "Exchange", "shuffle bytes written"),
]


def op_sum(ops: List[dict], node_pat: str, metric_pat: str) -> float:
    return sum(
        r["value"] for r in ops
        if re.search(node_pat, r["node"]) and re.search(metric_pat, r["metric"])
    )


# -- workloads ------------------------------------------------------------------------


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """prepare() builds the plans of one session; op() runs one timed
    operation and returns the rows it processed (raising on a wrong
    per-operation result); errors() checks the outputs after the window."""

    name = ""

    def __init__(self, data: str, work: str):
        self.data, self.work = data, work
        self.spark = None

    def prepare(self, spark, quarter: bool) -> None:
        """``quarter``: use the quarter-size input (weak scaling)."""
        self.spark = spark

    def op(self) -> int:
        raise NotImplementedError

    def errors(self) -> List[str]:
        return []

    def layers(self, spans: Spans) -> Dict[str, float]:
        return {}


class PagesE2E(Workload):
    """run_pipeline(write_outputs=True): parse, four Translates, observe,
    the partitionBy(route, lang) sink and the four aggregates."""

    name = "pages_e2e"

    def prepare(self, spark, quarter):
        super().prepare(spark, quarter)
        self.src = os.path.join(self.data, "pages_quarter" if quarter else "pages")
        self.out = os.path.join(self.work, "pages_out")
        self.rows = parquet_rows(
            [os.path.join(self.src, f) for f in os.listdir(self.src) if f.endswith(".parquet")])

    def op(self) -> int:
        pages = self.spark.read.parquet(self.src)
        m = P.run_pipeline(self.spark, pages, self.out, write_outputs=True)
        if m["extract_mismatches"] != 0:
            raise AssertionError(f"extract_mismatches={m['extract_mismatches']}")
        if m["rows"] != self.rows:
            raise AssertionError(f"observed {m['rows']} rows, the input has {self.rows}")
        return m["rows"]

    def errors(self):
        return checks.pages_errors(self.src, self.out)

    def _translates(self, cfg=P.PipelineConfig()):
        """The enrich stage's four Translates, one partial ladder rung
        each; the full rung runs ``P.enrich_stage`` itself."""
        spark = self.spark
        return [
            ("translate.status_exact_s", lambda df: Translate(TranslateConfig(
                source="status", target="status_text", dictionary=cfg.status_dict,
                fallback=cfg.status_fallback), spark=spark).apply(
                    df, route_col="route", matched_key_col="matched_key")),
            ("translate.lang_exact_s", lambda df: Translate(TranslateConfig(
                source="lang", target="lang_name", dictionary=cfg.lang_dict),
                spark=spark).apply(df, route_col="lang_route")),
            ("translate.collab_iterate_s", lambda df: Translate(TranslateConfig(
                source="collaborator_ids", iterate_on="collaborator_ids",
                target="collaborator_names", dictionary=cfg.collab_dict,
                fallback=cfg.collab_fallback), spark=spark).apply(
                    df, route_col="collab_route")),
            ("translate.union_s", lambda df: Translate(TranslateConfig(
                source="extracted_text", target="substituted_text",
                dictionary=cfg.union_dict, exact=False), spark=spark).apply(
                    df, route_col="union_route")),
        ]

    def partial(self, n_translates: int) -> DataFrame:
        """Parse plus the first ``n_translates`` of the enrich stage."""
        df = P.parse_stage(self.spark.read.parquet(self.src))
        for _, t in self._translates()[:n_translates]:
            df = t(df)
        return df

    def layers(self, spans):
        spark = self.spark
        out = os.path.join(self.work, "ladder_out")

        def enriched() -> DataFrame:
            return P.enrich_stage(P.parse_stage(spark.read.parquet(self.src)), spark)

        rungs = [("io.scan_s", lambda: noop(spark.read.parquet(self.src))),
                 ("html.parse_s", lambda: noop(self.partial(0)))]
        for i, (name, _) in enumerate(self._translates()[:-1]):
            rungs.append((name, lambda n=i + 1: noop(self.partial(n))))
        rungs += [
            ("translate.union_s", lambda: noop(enriched())),
            ("pipeline.observe_s", lambda: noop(P.observed(enriched())[0])),
            ("io.sink_write_s", lambda: P.write_sinks(P.observed(enriched())[0], out)),
            ("pipeline.aggregates_s", lambda: P.run_pipeline(
                spark, spark.read.parquet(self.src), out, write_outputs=True)),
        ]
        res = ladder(rungs, spans)
        files = [os.path.join(b, f) for b, _, fs in os.walk(os.path.join(out, "routed"))
                 for f in fs if f.endswith(".parquet")]
        res["io.sink_files"] = len(files)
        res["io.sink_bytes"] = sum(os.path.getsize(f) for f in files)
        return res


class LookupHeavy(Workload):
    """Four Translates over narrow Zipf-keyed events into a noop sink, one
    per lookup plane: map literal, broadcast join, iterate_on explode,
    regex pandas UDF."""

    name = "lookup_heavy"

    def __init__(self, data: str, work: str):
        super().__init__(data, work)
        self.refresh_errors: List[str] = []

    def _plans(self):
        d = os.path.join(self.data, "lookup")
        spark = self.spark
        return [
            ("lookup.literal_s", Translate(TranslateConfig(
                source="k_small", target="s_name", fallback=checks.MISS,
                dictionary_path=os.path.join(d, "small.csv")), spark=spark), {}),
            ("lookup.join_s", Translate(TranslateConfig(
                source="k_big", target="b_name", fallback=checks.MISS,
                dictionary_path=os.path.join(d, "big.json")), spark=spark), {}),
            ("lookup.iterate_s", Translate(TranslateConfig(
                source="tags", iterate_on="tags", target="t_names", fallback=checks.MISS,
                dictionary_path=os.path.join(d, "tags.yml")), spark=spark),
                {"iterate_key": "event_id"}),
            ("lookup.regex_s", Translate(TranslateConfig(
                source="msg", target="r_name", regex=True, fallback=checks.MISS,
                dictionary_path=os.path.join(d, "regex.csv")), spark=spark), {}),
        ]

    def prepare(self, spark, quarter):
        super().prepare(spark, quarter)
        events = os.path.join(self.data, "lookup", "events")
        self.files = [os.path.join(events, f) for f in sorted(os.listdir(events))]
        self.rows = parquet_rows(self.files)
        self.plans = self._plans()

    def frame(self, n: Optional[int] = None) -> DataFrame:
        df = self.spark.read.parquet(*self.files)
        for i, (_, t, kw) in enumerate(self.plans[:n]):
            df = t.apply(df, route_col=f"route{i}", **kw)
        return df

    def op(self) -> int:
        noop(self.frame())
        return self.rows

    def collect_pairs(self) -> Dict[str, set]:
        """Distinct (key, value) per dictionary, from one job."""
        pdf = self.frame().select(
            "k_small", "s_name", "k_big", "b_name", "msg", "r_name", "tags", "t_names").toPandas()
        return {
            "small": set(zip(pdf.k_small, pdf.s_name)),
            "big": set(zip(pdf.k_big, pdf.b_name)),
            "regex": set(zip(pdf.msg, pdf.r_name)),
            "tags": {p for ks, vs in zip(pdf.tags, pdf.t_names)
                     for p in itertools.zip_longest(ks, [] if vs is None else vs)},
        }

    def errors(self):
        pairs = self.collect_pairs()
        return checks.lookup_errors(os.path.join(self.data, "lookup"), pairs) + self.refresh_errors

    def layers(self, spans):
        d = os.path.join(self.data, "lookup")
        res = dictionary_loads(spans, csv=os.path.join(d, "small.csv"),
                               json=os.path.join(d, "big.json"), yaml=os.path.join(d, "tags.yml"))
        with spans.span("translate.plan"):
            t0 = now()
            self.plans = self._plans()
            self.frame()
            res["translate.plan_s"] = now() - t0
        rungs = [("scan", lambda: noop(self.frame(0)))]
        for i, (name, _, _) in enumerate(self.plans):
            rungs.append((name, lambda n=i + 1: noop(self.frame(n))))
        res.update(ladder(rungs, spans))
        res.pop("scan", None)
        with spans.span("lookup.hit_ratio"):
            hits = self.frame(2).filter(F.col("b_name") != checks.MISS).count()
        res["lookup.hit_ratio"] = hits / self.rows
        res.update(self.refresh_layers(spans))
        return res

    def refresh_layers(self, spans: Spans) -> Dict[str, float]:
        """The refresh path on the JSON dictionary: per version, install
        it (copy, rename, new mtime) and make the calls
        run_streaming_pipeline makes per micro-batch: refresh, then apply
        and write (a noop sink here). The last batch's output must carry
        the last version."""
        d = os.path.join(self.data, "lookup")
        live = os.path.join(self.work, "big_live.json")
        versions = sorted(f for f in os.listdir(d) if re.match(r"big_v\d+\.json$", f))

        def install(name: str, stamp: int) -> str:
            shutil.copyfile(os.path.join(d, name), live + ".tmp")
            os.utime(live + ".tmp", (1e9 + stamp, 1e9 + stamp))
            os.replace(live + ".tmp", live)
            return os.path.join(d, name)

        install("big.json", 0)
        res = {}
        with spans.span("dictionary.reload"):
            f = D.DictionaryFile(live)
            t0 = now()
            f.reload(force=True)
            res["dictionary.reload_s"] = now() - t0
        with spans.span("refresh.rebuild"):
            t0 = now()
            L.build_strategy("exact", f.pairs, spark=self.spark)
            res["refresh.rebuild_s"] = now() - t0
        st = StreamingTranslate(TranslateConfig(
            source="k_big", target="b_name", fallback=checks.MISS, dictionary_path=live), self.spark)
        changed, apply_write = 0, []
        for i, name in enumerate(versions, start=1):
            path = install(name, i)
            with spans.span("refresh.batch", version=name):
                with spans.span("refresh.refresh"):
                    changed += bool(st.op.refresh())
                with spans.span("refresh.apply_write"):
                    t0 = now()
                    noop(st.apply(self.spark.read.parquet(*self.files)))
                    apply_write.append(now() - t0)
        res["refresh.apply_write_s"] = statistics.median(apply_write)
        res["refresh.changed_ratio"] = changed / len(versions)
        want = checks.read_json(path)
        got = st.apply(self.spark.read.parquet(*self.files)).select("k_big", "b_name").distinct()
        self.refresh_errors = checks.pairs_errors(
            f"refreshed {name}", [tuple(r) for r in got.collect()],
            lambda k: want.get(k, checks.MISS))
        return res


WORKLOADS = {w.name: w for w in (PagesE2E, LookupHeavy)}


def dictionary_loads(spans: Spans, **paths) -> Dict[str, float]:
    """Time the public loaders of sources.dictionary on the given files."""
    res = {}
    loaders = {"csv": D.load_csv, "json": D.load_json, "yaml": D.load_yaml}
    for fmt, path in paths.items():
        with spans.span(f"dictionary.load_{fmt}", path=os.path.basename(path)):
            t0 = now()
            loaders[fmt](path)
            res[f"dictionary.load_{fmt}_s"] = now() - t0
    return res


def ladder(rungs, spans: Spans) -> Dict[str, float]:
    """Cumulative rungs, run in LADDER_ROUNDS rounds of every rung so that
    warm-up spreads over all of them; a rung's time is its median, its
    metric the marginal time over the rung before it."""
    times: Dict[str, List[float]] = {name: [] for name, _ in rungs}
    for r in range(LADDER_ROUNDS):
        for name, fn in rungs:
            with spans.span("ladder." + name, round=r):
                t0 = now()
                fn()
                times[name].append(now() - t0)
    res, prev = {}, 0.0
    for name, _ in rungs:
        t = statistics.median(times[name])
        res[name] = t - prev
        res["ladder." + name + ".cumulative_s"] = t
        prev = t
    return res


# -- measurement ------------------------------------------------------------------------


def new_session(cpus: int):
    return build_session(
        app_name="perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.shuffle.partitions": str(max(cpus, 4)),
        },
    )


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return float("nan")


def failed_ops(ops: List[dict], errors: List[str]) -> int:
    """An operation fails when it raises or returns a wrong per-operation
    result. A wrong output found by the check after the window fails every
    operation, since one plan produced them all."""
    return len(ops) if errors else sum(not o["ok"] for o in ops)


def run_ops(w: Workload, seconds: float, failures: List[str], wrap=None) -> List[dict]:
    """Closed loop: the next operation starts when the previous one ends."""
    ops = []
    deadline = now() + seconds
    while len(ops) < MIN_OPS or now() < deadline:
        t0 = now()
        try:
            rows = wrap(w.op, len(ops)) if wrap else w.op()
            ok = True
        except Exception as exc:  # an operation that fails is counted, not fatal
            failures.append(f"op {len(ops)}: {type(exc).__name__}: {exc}"[:300])
            rows, ok = 0, False
        ops.append({"s": now() - t0, "rows": rows, "ok": ok})
    return ops


def setup(w: Workload, cpus: int = CPUS, quarter: bool = False):
    """Session start + plan build + one untimed warm operation."""
    t0 = now()
    spark = new_session(cpus)
    w.prepare(spark, quarter)
    w.op()
    return spark, now() - t0


def measure(w: Workload, seconds: float, res: dict) -> None:
    failures: List[str] = []
    setups = []
    for k in range(SETUPS):
        spark, s = setup(w)
        setups.append(s)
        if k < SETUPS - 1:
            spark.stop()
    with HostMeter(spark, CPUS) as meter:
        ops = run_ops(w, seconds, failures)
    res["host"] = meter.metrics
    res["peak_rss_mb"] = jvm_peak_rss_mb(spark)
    t0 = now()
    errors = w.errors()
    res["check_s"] = now() - t0
    spark.stop()

    good = [o["s"] for o in ops if o["ok"]] or [float("nan")]
    t_tail, pct = tail(good)
    res.update({
        "setup_s": statistics.median(setups),
        "setup_samples_s": setups,
        "rows_per_s": sum(o["rows"] for o in ops) / sum(o["s"] for o in ops),
        "op_p50_s": statistics.median(good),
        "op_tail_s": t_tail,
        "op_tail_percentile": pct,
        "ops_s": [o["s"] for o in ops],
        "attempted": len(ops),
        "failed": failed_ops(ops, errors),
        "errors": errors,
        "failures": failures,
    })


def measure_traced(w: Workload, seconds: float, spans: Spans, res: dict) -> None:
    failures: List[str] = []
    with spans.span("setup"):
        spark, s = setup(w)
    stats = SparkStats(spark)
    per_op: List[dict] = []

    def every_other(fn, i):
        """Odd operations run traced, even ones plain, so that both see
        the same warm-up."""
        if i % 2 == 0:
            return fn()
        group = f"op{i}"
        spark.sparkContext.setJobGroup(group, group)
        gc0, ex0 = stats.gc_seconds(), stats.last_execution_id()
        with spans.span("op", op=i):
            rows = fn()
        g = stats.group(group)
        g["gc_s"] = stats.gc_seconds() - gc0
        sql = stats.operators(ex0)
        for name, node, metric in OPERATOR_METRICS:
            g[name] = op_sum(sql, node, metric)
        per_op.append(g)
        return rows

    with HostMeter(spark, CPUS) as meter:
        with spans.span("ops"):
            both = run_ops(w, seconds, failures, wrap=every_other)
    plain, ops = both[0::2], both[1::2]
    with spans.span("layers"):
        layers = w.layers(spans)
    errors = w.errors()
    if isinstance(w, PagesE2E):
        # weak scaling, both sides warm: T(local[1], quarter input) /
        # T(local[nproc], full input), MIN_OPS operations each
        with spans.span("scaling.local_n"):
            full = run_ops(w, 0, failures)
        spark.stop()
        with spans.span("scaling.local1"):
            spark, _ = setup(w, 1, quarter=True)
            one = run_ops(w, 0, failures)
            errors += w.errors()
        layers["pipeline.scaling_eff"] = statistics.median(o["s"] for o in one) / statistics.median(
            o["s"] for o in full)
        both += full + one
    spark.stop()
    med = lambda k: statistics.median(p[k] for p in per_op)  # noqa: E731
    metrics = {
        "spark.jobs": med("jobs"), "spark.tasks": med("tasks"),
        "spark.gc_s": med("gc_s"), "spark.spill_bytes": med("spill_bytes"),
        **{name: med(name) for name, _, _ in OPERATOR_METRICS},
        "trace.overhead_s": statistics.median(o["s"] for o in ops)
        - statistics.median(o["s"] for o in plain),
        "host.steal_pct": meter.metrics["steal_pct"],
        "host.cpu_util": meter.metrics["jvm_util"],
    }
    metrics.update(layers)
    res.update({
        "layers": metrics,
        "setup_s": s,
        "op_p50_s": statistics.median(o["s"] for o in plain),
        "traced_op_p50_s": statistics.median(o["s"] for o in ops),
        "per_op": per_op,
        "attempted": len(both),
        "failed": failed_ops(both, errors),
        "errors": errors,
        "failures": failures,
    })


def main() -> None:
    ap = argparse.ArgumentParser(description="one benchmark measurement")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--result", required=True)
    ap.add_argument("--spans")
    a = ap.parse_args()
    w = WORKLOADS[a.workload](a.data, a.work)
    res = {"workload": a.workload, "trace": a.trace, "cpus": CPUS}
    if a.trace:
        spans = Spans(f"{a.workload}-{os.getpid()}")
        measure_traced(w, a.seconds, spans, res)
        if a.spans:
            spans.write(a.spans)
    else:
        measure(w, a.seconds, res)
    with open(a.result, "w") as fh:
        json.dump(res, fh, indent=1, default=str)


if __name__ == "__main__":
    main()
