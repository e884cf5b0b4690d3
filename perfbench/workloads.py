"""The benchmark's workloads: a closed loop, one client, one driver.

Each workload generates its inputs from the seed (untimed), runs one
untimed warm-up round, then a timed body: a closed loop of rounds, each
running every one of the workload's operations (``Op``) once. The loop
runs until ``seconds`` have passed and at least ``min_rounds`` rounds
have completed; it only stops between rounds. Each operation's typical
latency is its median over the rounds (``Body.typical``), so a round
slowed by the host or by a garbage collection does not move it; the
end-to-end timings are built from those medians. Outputs are checked
after the body, against an independent oracle (``oracles``); an
exception or a mismatch marks the operation failed and never aborts the
run.

Warm-up policy (the same on both sides of any comparison): before the
timed body, each workload runs one untimed round of its timed
operations on the run's own inputs, so no timed latency carries a plan's
first-run codegen and class loading; then Spark's cache and the
engine's dedup memos are cleared and every later write goes to a fresh
directory.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass

import gen
import oracles
from spans import SparkCounters, Tracer


@dataclass
class Op:
    label: str
    latency: float = 0.0
    error: str | None = None
    output: object = None

    @property
    def ok(self) -> bool:
        return self.error is None


@dataclass
class Body:
    ops: list[Op]
    rounds: int
    wall_s: float
    shuffle_mb: float

    @property
    def typical(self) -> dict[str, float]:
        """Each operation's median latency over the rounds."""
        lat: dict[str, list[float]] = {}
        for o in self.ops:
            lat.setdefault(o.label, []).append(o.latency)
        return {k: statistics.median(v) for k, v in lat.items()}

    @property
    def round_s(self) -> float:
        """A typical round: the sum of the operations' typical latencies."""
        return sum(self.typical.values())


class Workload:
    """Subclasses define ``generate``, ``round`` (the operations of one
    round), ``check`` and ``round_rows``."""

    name = ""
    # the first timed rounds still run faster each time (the JIT is not
    # done yet); the median of three drops the slowest of them
    min_rounds = 3

    def __init__(self, spark, seed: int, work_dir: str, cores: int):
        self.spark = spark
        self.seed = seed
        self.work_dir = work_dir
        self.cores = cores
        self.info: dict = {}
        self._fresh = 0
        self._tracer: Tracer | None = None

    # -- helpers -------------------------------------------------------
    def fresh_dir(self, tag: str) -> str:
        self._fresh += 1
        return os.path.join(self.work_dir, "out", f"{tag}-{self._fresh}")

    def reset_caches(self) -> None:
        from bigdata_processing_spark.queries.dedup import clear_dedup_memos

        clear_dedup_memos()
        self.spark.catalog.clearCache()

    def _run_op(self, tracer: Tracer | None, span: str, label: str, fn) -> Op:
        op = Op(label)
        t = time.perf_counter()
        try:
            op.output = tracer.call(span, fn) if tracer else fn()
        except Exception as e:  # the run goes on; the op counts as failed
            op.error = f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"[:300]
        op.latency = time.perf_counter() - t
        return op

    # -- the timed body ------------------------------------------------
    def body(self, seconds: float, tracer: Tracer | None = None,
             n_rounds: int | None = None) -> Body:
        """Closed loop for ``seconds`` (or exactly ``n_rounds`` rounds)."""
        self._tracer = tracer
        counters = tracer.counters if tracer and tracer.counters else SparkCounters(self.spark)
        shuffle0 = counters.snapshot()["shuffle_write_mb"]
        t0 = time.perf_counter()
        ops: list[Op] = []
        rounds = 0
        while True:
            for span, label, fn in self.round(rounds):
                ops.append(self._run_op(tracer, span, label, fn))
            rounds += 1
            counters.snapshot()
            self.reset_caches()
            if n_rounds is not None:
                if rounds >= n_rounds:
                    break
            elif time.perf_counter() - t0 >= seconds and rounds >= self.min_rounds:
                break
        wall = time.perf_counter() - t0
        shuffle = counters.snapshot()["shuffle_write_mb"] - shuffle0
        return Body(ops, rounds, wall, shuffle)

    def round(self, i: int):
        raise NotImplementedError

    def warmup(self) -> None:
        for _span, _label, fn in self.round(-1):
            fn()
        self.reset_caches()

    def check(self, body: Body) -> None:
        """Mark every operation whose output disagrees with the oracle."""
        raise NotImplementedError

    def round_rows(self) -> int:
        """The stated input rows one round processes."""
        raise NotImplementedError

    def layer_metrics(self, tracer: Tracer, body: Body) -> dict[str, float]:
        return {}

    def trace_hooks(self, tracer: Tracer) -> None:
        """Wrap the engine functions the workload's operations call
        internally; spans around the benchmark's own calls need no hook."""


# --------------------------------------------------------------------------
# eth_jobs
# --------------------------------------------------------------------------

ETH_JOBS = ("monthly_transactions", "top10_contracts", "top10_miners",
            "scam_analysis", "gas_guzzlers", "data_overhead")
ETH_OUTPUTS = {
    "monthly_transactions": ("monthly_transactions",),
    "top10_contracts": ("top10_contracts",),
    "top10_miners": ("top10_miners",),
    "scam_analysis": ("scam_lucrative_id", "scam_lucrative_category",
                      "scam_change_with_time"),
    "gas_guzzlers": ("gas_avg_price", "gas_avg_used", "gas_top10"),
    "data_overhead": ("data_overhead",),
}
ETH_READS = {
    "monthly_transactions": ("transactions",),
    "top10_contracts": ("transactions", "contracts"),
    "top10_miners": ("blocks",),
    "scam_analysis": ("transactions", "scams"),
    "gas_guzzlers": ("transactions", "contracts"),
    "data_overhead": ("blocks",),
}


class EthJobs(Workload):
    """The reference's six jobs. Each job loads its CSV/JSON inputs afresh
    (as each reference job was its own application), computes, and writes
    every result through ``sources.writers.write_json``. One operation is
    one job; one round is the six jobs."""

    name = "eth_jobs"

    def generate(self) -> None:
        self.inputs = gen.gen_eth(self.seed, os.path.join(self.work_dir, "in"))
        self.info["input_rows"] = self.inputs["rows"]
        self.info["input_mb"] = round(sum(
            os.path.getsize(p) for p in self.inputs["paths"].values()) / 2**20, 3)
        rows = self.inputs["rows"]
        # what sources.reject_ratio should read
        self.info["planted_malformed_share"] = (
            sum(self.inputs["malformed"].values()) / (rows["transactions"] + rows["blocks"]))

    def _jobs(self, out_dir: str, tracer: Tracer | None):
        from bigdata_processing_spark.pipelines import ethereum as E
        from bigdata_processing_spark.sources.writers import write_json

        spark, p = self.spark, self.inputs["paths"]

        def write(df, name):
            path = os.path.join(out_dir, name)
            if tracer:
                tracer.call("sources.write_json", write_json, df, path)
            else:
                write_json(df, path)
            return path

        def tx():
            return E.load_transactions(spark, p["transactions"])

        def ct():
            return E.load_contracts(spark, p["contracts"])

        def bk():
            return E.load_blocks(spark, p["blocks"])

        def monthly():
            return [write(E.monthly_transactions(tx()), "monthly_transactions")]

        def top10c():
            return [write(E.top10_contracts(tx(), ct()), "top10_contracts")]

        def miners():
            return [write(E.top10_miners(bk()), "top10_miners")]

        def scams():
            outs = E.scam_analysis(tx(), E.load_scams(spark, p["scams"]))
            return [write(df, n) for df, n in zip(outs, ETH_OUTPUTS["scam_analysis"])]

        def gas():
            t, c = tx(), ct()
            outs = E.gas_guzzlers(t, c, E.top10_contracts(t, c).select("to_address"))
            return [write(df, n) for df, n in zip(outs, ETH_OUTPUTS["gas_guzzlers"])]

        def overhead():
            return [write(E.data_overhead(bk()), "data_overhead")]

        fns = (monthly, top10c, miners, scams, gas, overhead)
        return [(f"pipelines.ethereum.{j}", j, fn) for j, fn in zip(ETH_JOBS, fns)]

    def round(self, i: int):
        return self._jobs(self.fresh_dir(f"round{i}"), self._tracer)

    def check(self, body: Body) -> None:
        expected = oracles.eth_expected(self.inputs["paths"])
        for op in body.ops:
            if not op.ok:
                continue
            for path in op.output:
                name = os.path.basename(path)
                got_cols, got_rows = oracles.read_json_dir(path)
                want_cols, want_rows = expected[name]
                reason = oracles.rows_match(got_cols, got_rows, want_cols, want_rows)
                if reason:
                    op.error = f"{name}: {reason}"
                    break

    def round_rows(self) -> int:
        rows = self.inputs["rows"]
        return sum(rows[f] for j in ETH_JOBS for f in ETH_READS[j])

    def layer_metrics(self, tracer: Tracer, body: Body) -> dict[str, float]:
        from bigdata_processing_spark.pipelines import ethereum as E

        m: dict[str, float] = {}
        for job in ETH_JOBS:
            walls = [s.wall for s in tracer.by_name(f"pipelines.ethereum.{job}")]
            m[f"pipelines.ethereum.{job}_s"] = statistics.median(walls) if walls else 0.0
        m["sources.write_json_s"] = sum(s.wall for s in tracer.by_name("sources.write_json"))
        # bytes the jobs read / bytes of the files they were given
        file_mb = {k: os.path.getsize(v) / 2**20 for k, v in self.inputs["paths"].items()}
        given = sum(file_mb[f] for op in body.ops for f in ETH_READS[op.label])
        read = sum(s.counters["input_mb"] for n in ETH_JOBS
                   for s in tracer.by_name(f"pipelines.ethereum.{n}"))
        m["sources.read_amplification"] = read / given if given else 0.0
        # what reading alone costs: each input file loaded with its validators
        # into a noop sink (timed on the second of two scans, so warm like the
        # jobs), once per job of a round that reads it, against the round's
        # traced wall (the share of a round the sources layer takes)
        p = self.inputs["paths"]
        loaders = {"transactions": E.load_transactions, "contracts": E.load_contracts,
                   "blocks": E.load_blocks, "scams": E.load_scams}
        scan = {}
        for f, load in loaders.items():
            for _ in range(2):
                t = time.perf_counter()
                load(self.spark, p[f]).write.format("noop").mode("overwrite").save()
                scan[f] = time.perf_counter() - t
        m["sources.scan_s"] = sum(scan[f] for j in ETH_JOBS for f in ETH_READS[j])
        m["sources.scan_share"] = m["sources.scan_s"] / (body.wall_s / body.rounds)
        # validator drop rate, against the generated malformed share
        kept = (E.load_transactions(self.spark, p["transactions"]).count()
                + E.load_blocks(self.spark, p["blocks"]).count())
        raw = self.inputs["rows"]["transactions"] + self.inputs["rows"]["blocks"]
        m["sources.reject_ratio"] = (raw - kept) / raw
        return m


# --------------------------------------------------------------------------
# star_sql
# --------------------------------------------------------------------------

STAR_MODULES = ("relational", "joins", "analytic", "subqueries", "timeseries",
                "temporal_ext", "semistructured", "extended")
# time every eighth registered query from the fifth on: the half of every
# fourth that reaches the operators (asof, sketches)
STAR_EVERY, STAR_FIRST = 8, 4


def _star_operators():
    from bigdata_processing_spark.operators import asof, sketches, skew

    return ((sketches, ("kmv_minset", "kmv_estimate", "kmv_merge", "kmv_distinct",
                        "bloom_prune", "bottomk_sample", "cms_estimates")),
            (asof, ("asof_join",)), (skew, ("salted_agg",)))


class StarSql(Workload):
    """Every ``STAR_EVERY``-th registered query of ``STAR_MODULES`` in name
    order, starting at index ``STAR_FIRST`` (seven of the eight modules are
    represented; ``temporal_ext`` is not), over a generated star schema.
    One operation is one query: build its DataFrame, then collect its rows;
    one round is one pass over the queries. The seed changes the data,
    never the query set, so runs compare."""

    name = "star_sql"

    def generate(self) -> None:
        from bigdata_processing_spark.queries import all_oracles, all_queries

        self.inputs = gen.gen_star(self.seed, os.path.join(self.work_dir, "in"))
        self.sf_dir = self.inputs["sf_dir"]
        self.info["input_rows"] = self.inputs["rows"]
        queries = {n: f for n, f in all_queries().items()
                   if f.__module__.rsplit(".", 1)[-1] in STAR_MODULES}
        self.oracles = {n: s for n, s in all_oracles().items() if n in queries}
        names = sorted(queries)
        self.order = names[STAR_FIRST::STAR_EVERY]
        self.queries = queries
        self.info["queries_registered"] = len(names)

    def _query(self, name: str, tracer: Tracer | None):
        spark, sf = self.spark, self.sf_dir
        fn = self.queries[name]

        def run():
            df = tracer.call("queries.construct", fn, spark, sf) if tracer else fn(spark, sf)
            rows = tracer.call("queries.exec", df.collect) if tracer else df.collect()
            return df.columns, [tuple(r) for r in rows]

        return run

    def round(self, i: int):
        return [("queries.query", name, self._query(name, self._tracer))
                for name in self.order]

    def check(self, body: Body) -> None:
        ran = sorted({op.label for op in body.ops})
        expected = oracles.star_expected(
            self.sf_dir, list(self.inputs["rows"]), {n: self.oracles[n] for n in ran
                                                     if n in self.oracles})
        for op in body.ops:
            if not op.ok or op.label not in expected:
                continue
            want = expected[op.label]
            if isinstance(want, str):
                op.error = want
                continue
            reason = oracles.rows_match(op.output[0], op.output[1], *want)
            if reason:
                op.error = reason
        self.info["queries_run"] = len(ran)
        self.info["queries_without_oracle"] = [n for n in ran if n not in self.oracles]

    def round_rows(self) -> int:
        return sum(self.inputs["rows"].values()) * len(self.order)

    def layer_metrics(self, tracer: Tracer, body: Body) -> dict[str, float]:
        from pyspark.sql import functions as F

        from bigdata_processing_spark.catalog import load_table
        from bigdata_processing_spark.functions import temporal, text

        loads = tracer.by_name("catalog.load_table")
        hits = sum(1 for s in loads if s.attrs.get("memo_hit"))
        qspans = tracer.by_name("queries.query")
        op_spans = [s for s in tracer.spans if s.name.startswith("operators.")]
        m = {
            "catalog.load_table_calls": float(len(loads)),
            "catalog.load_table_s": sum(s.wall for s in loads),
            "catalog.memo_hit_ratio": hits / len(loads) if loads else 0.0,
            "operators.calls": float(len(op_spans)),
            "queries.construct_s": sum(s.wall for s in tracer.by_name("queries.construct")),
            "queries.exec_s": sum(s.wall for s in tracer.by_name("queries.exec")),
            "queries.jobs_per_query": (sum(s.counters["jobs"] for s in qspans) / len(qspans)
                                       if qspans else 0.0),
        }
        # the workload's own text and time projections, through a noop sink
        docs = load_table(self.spark, self.sf_dir, "documents")
        events = load_table(self.spark, self.sf_dir, "events")
        projections = {
            "functions.text.eval": docs.select(
                text.fingerprint(F.col("text")).alias("fp"),
                text.hash64(F.col("text")).alias("h"),
                text.token_count(F.col("text")).alias("n")),
            "functions.temporal.eval": events.select(temporal.epoch_us(events, "ts").alias("us")),
        }
        for name, df in projections.items():
            tracer.call(name, df.write.format("noop").mode("overwrite").save)
            m[f"{name}_s"] = tracer.by_name(name)[-1].wall
        return m

    def trace_hooks(self, tracer: Tracer) -> None:
        from bigdata_processing_spark import catalog

        memo = getattr(catalog, "_TABLE_MEMO", {})

        def memo_hit(args, kwargs):
            spark, sf_dir, name = (list(args) + [None, None, None])[:3]
            key = (spark.sparkContext.applicationId, sf_dir, name)
            return {"memo_hit": 1.0 if key in memo else 0.0}

        tracer.wrap(catalog, "load_table", "catalog.load_table", on_call=memo_hit)
        for module, names in _star_operators():
            for attr in names:
                tracer.wrap(module, attr, f"operators.{module.__name__.rsplit('.', 1)[-1]}.{attr}")


WORKLOADS = {w.name: w for w in (EthJobs, StarSql)}
