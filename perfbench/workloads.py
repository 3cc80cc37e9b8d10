"""The benchmark's workloads.

A workload generates its inputs from the seed, then hands out passes:
lists of operations that the driver runs one after another (closed
loop, one client). Each operation calls into the engine's public
functions inside spans named after the repository module it enters;
with an untraced ``Tracer`` those spans cost nothing. ``WHY`` says what
each workload stresses.
"""

from __future__ import annotations

import math
import os
import shutil
import time

import numpy as np

import inputs

WHY = {
    "wordcount_corpus": "the paper's word count; execution, exchange and sink "
                        "bound, builder launches no jobs",
    "star_queries": "headline relational queries; builder schema inference, "
                    "Catalyst planning and execution each take a share",
    "versioned_rw": "appends, reads and mutations of one versioned table "
                    "through both front doors",
}

STAR_QUERIES = ["q1_pricing_summary", "q5_revenue_by_nation",
                "join_lineitem_part_supplier", "top10_customers_by_revenue",
                "window_rank_orders", "rollup_lineitem_flags", "events_tumbling_1h"]


#: the star-schema tables are made with this seed in every run, so that
#: the run's own seed only permutes the query order
STAR_DATA_SEED = 42


class Op:
    """One operation: ``run()`` does the work and returns what ``check``
    inspects; ``check(result)`` returns a problem string or None."""

    __slots__ = ("name", "kind", "run", "check")

    def __init__(self, name, kind, run, check=None):
        self.name, self.kind, self.run, self.check = name, kind, run, check


# ---------------------------------------------------------------- oracle compare

def _as_text(col: str, typ: str) -> str:
    """A column rendered as text for comparison inside DuckDB. Doubles
    print as their shortest round-trip form, so equal text means equal
    bits; zoned timestamps drop the zone (the session is UTC)."""
    c = f'"{col}"'
    if typ.upper().startswith("TIMESTAMP"):
        c = f"CAST({c} AS TIMESTAMP)"
    return f"CAST({c} AS VARCHAR)"


def diff_results(con, got, oracle_sql: str) -> str | None:
    """Compare an Arrow table with the oracle SQL's result as multisets
    of rows (order-insensitive), inside DuckDB. Returns a problem
    description or None."""
    con.register("_got", got)
    try:
        want = con.execute(f"SELECT * FROM ({oracle_sql}) LIMIT 0")
        want_t = {d[0]: str(d[1]) for d in want.description}
        got_t = {d[0]: str(d[1]) for d in
                 con.execute("SELECT * FROM _got LIMIT 0").description}
        if sorted(got_t) != sorted(want_t):
            return f"columns {sorted(got_t)} != oracle {sorted(want_t)}"
        cols = sorted(got_t)
        g = ", ".join(f"{_as_text(c, got_t[c])} AS c{i}" for i, c in enumerate(cols))
        w = ", ".join(f"{_as_text(c, want_t[c])} AS c{i}" for i, c in enumerate(cols))
        n_got, n_want, only_got, only_want = con.execute(f"""
            WITH g AS (SELECT {g} FROM _got), w AS (SELECT {w} FROM ({oracle_sql}))
            SELECT (SELECT count(*) FROM g), (SELECT count(*) FROM w),
                   (SELECT count(*) FROM (SELECT * FROM g EXCEPT ALL SELECT * FROM w)),
                   (SELECT count(*) FROM (SELECT * FROM w EXCEPT ALL SELECT * FROM g))
        """).fetchone()
    finally:
        con.unregister("_got")
    if only_got or only_want:
        return (f"{n_got} rows vs oracle {n_want}: {only_got} only in the engine's "
                f"result, {only_want} only in the oracle's")
    return None


# ---------------------------------------------------------------- workloads

class Workload:
    name = ""
    #: untimed passes before the timed section; only the first counts
    #: in ``setup_s``, the rest let the JIT settle
    warm_up_passes = 1
    #: timed passes a run makes at least, however long they take
    min_passes = 1

    def __init__(self, ctx, work_dir: str):
        self.ctx, self.work = ctx, work_dir
        self.warm_latencies: list[list] = []
        self.first_pass_s = 0.0  # the first warm-up pass, checks excluded

    def passes_ops(self, pass_no: int) -> list[Op]:
        raise NotImplementedError

    def corrupt(self) -> None:
        """Perturb one expected answer, so every check that reads it must
        fail (the benchmark's own tests use this to prove the gate)."""
        raise NotImplementedError

    def final_check(self) -> dict[str, str | None]:
        """Checks made once, after the timed section. Returns {op name:
        problem or None}; a problem fails every run of that operation."""
        return {}

    def warm_up(self) -> dict[str, str | None]:
        """Untimed passes. Returns {op name: first problem or None}."""
        out: dict[str, str | None] = {}
        for k in range(self.warm_up_passes):
            t0, c0 = time.perf_counter(), self.ctx.check_s
            for op in self.passes_ops(-1 - k):
                r = self.ctx.run_op(op)
                self.warm_latencies.append([op.name, r["latency_s"]])
                out[op.name] = out.get(op.name) or r["problem"]
            if k == 0:
                self.first_pass_s = time.perf_counter() - t0 - (self.ctx.check_s - c0)
        return out


class WordcountCorpus(Workload):
    name = "wordcount_corpus"
    # a pass is one short pipeline run: the JIT is still compiling for
    # many passes, so the run settles it longer and times more passes
    warm_up_passes = 4
    min_passes = 10

    def __init__(self, ctx, work_dir, seed, tiny: bool = False):
        super().__init__(ctx, work_dir)
        self.corpus = inputs.gen_corpus(os.path.join(work_dir, "corpus"), seed,
                                        n_files=4 if tiny else 16, mb=0.2 if tiny else 4.0)
        self.input_info = {k: self.corpus[k] for k in ("files", "bytes", "tokens")}
        self.out_root = os.path.join(work_dir, "out")
        self.last_output = None
        self._want_text = None  # per file; built at the first check, after corrupt()

    def passes_ops(self, pass_no):
        out = os.path.join(self.out_root, f"final_output_{pass_no + 1}")
        return [Op("reference_wordcount_pipeline", "pipeline",
                   lambda: self._run(out), self._check)]

    def _run(self, out: str) -> str:
        from mapreduce_4_spark import pipelines
        pipelines.reference_wordcount_pipeline(self.ctx.spark, self.corpus["dir"], out)
        return out

    def corrupt(self):
        c = self.corpus["expected"][min(self.corpus["expected"])]
        c[c.most_common(1)[0][0]] += 1

    def _check(self, out: str) -> str | None:
        if self._want_text is None:
            self._want_text = {f: inputs.expected_wordcount_text(c)
                               for f, c in self.corpus["expected"].items()}
        parts = inputs.wordcount_part_texts(out)
        shutil.rmtree(out, ignore_errors=True)
        self.last_output = {"files": sum(len(t) for t in parts.values())}
        # the tree is right when each file's parts hold exactly the
        # expected lines; parse it only to say what is wrong otherwise
        if {f: "".join(t) for f, t in parts.items()} == self._want_text:
            return None
        got, _, problems = inputs.parse_wordcount_parts(parts)
        if problems:
            return problems[0]
        want = self.corpus["expected"]
        if set(got) != set(want):
            return f"files {sorted(got)} != {sorted(want)}"
        for f, c in want.items():
            if got[f] != c:
                w = next(w for w in set(c) | set(got[f]) if c[w] != got[f][w])
                return f"{f}: {w!r} counted {got[f][w]}, expected {c[w]}"
        return None


class StarQueries(Workload):
    """Registry queries, each a fresh build, then plan, then noop sink,
    in an order the seed permutes anew for every pass. The tables are
    the same for every seed (as the fixtures are); the seed only sets
    the query order.

    In the first warm-up pass each query collects its result instead of
    writing it to the noop sink, and the result is compared with the
    registry's DuckDB oracle SQL on the same files: every query is
    collected once per run, outside the timed section. A query whose
    result is wrong fails every time it runs."""

    name = "star_queries"
    # a query's second run is still slow after a cold first one, so the
    # run reports medians over two timed passes
    min_passes = 2

    def __init__(self, ctx, work_dir, seed, tiny=False):
        super().__init__(ctx, work_dir)
        self.data = inputs.gen_star(os.path.join(work_dir, "star"), STAR_DATA_SEED,
                                    sf=0.002 if tiny else 0.1)
        self.input_info = {"bytes": self.data["bytes"], "queries": len(STAR_QUERIES)}
        self.seed = seed
        self.oracles = {}
        self.problems: dict[str, str | None] = {}
        self._con = None  # DuckDB, with a view per table

    def corrupt(self):
        from mapreduce_4_spark import plans
        q = STAR_QUERIES[0]
        sql = plans.REGISTRY[q].oracle
        self.oracles[q] = f"SELECT * FROM ({sql}) EXCEPT ALL (SELECT * FROM ({sql}) LIMIT 1)"

    def passes_ops(self, pass_no):
        rng = np.random.default_rng([self.seed, pass_no + self.warm_up_passes])
        queries = [STAR_QUERIES[i] for i in rng.permutation(len(STAR_QUERIES))]
        if pass_no == -1:  # the first warm-up pass
            return [Op(q, "query", lambda q=q: self._run(q, collect=True),
                       lambda got, q=q: self._check(q, got)) for q in queries]
        return [Op(q, "query", lambda q=q: self._run(q)) for q in queries]

    def _run(self, q: str, collect: bool = False):
        from mapreduce_4_spark import plans
        ctx, tr = self.ctx, self.ctx.tr
        with tr.span("plans.build", fn=q):
            df = plans.REGISTRY[q].builder(ctx.spark, self.data["dir"])
        if tr.enabled:
            from tracing import catalyst_phases
            with tr.span("catalyst.plan") as s:
                df._jdf.queryExecution().executedPlan()
                s.update(catalyst_phases(df))
        if collect:
            with tr.span("exec.collect"):
                return df.toArrow()
        with tr.span("exec.sink", fn="noop"):
            df.write.format("noop").mode("overwrite").save()
        return None

    def _check(self, q: str, got) -> str | None:
        from mapreduce_4_spark import plans
        if self._con is None:
            import duckdb
            self._con = duckdb.connect()
            for f in sorted(os.listdir(self.data["dir"])):
                if f.endswith(".parquet"):
                    self._con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                                      f"read_parquet('{os.path.join(self.data['dir'], f)}')")
        try:
            problem = diff_results(self._con, got, self.oracles.get(q, plans.REGISTRY[q].oracle))
        except Exception as e:  # counted as a failed check, not a crash
            problem = f"{type(e).__name__}: {str(e)[:300]}"
        self.problems[q] = problem
        return problem

    def final_check(self):
        if self._con is not None:
            self._con.close()
        return self.problems


class VersionedRW(Workload):
    """Per pass, on a fresh table directory: appends that record stats
    and blooms, each followed by a point or range read through the
    function API or ``mr4ver``; then ``compact_tail``, a CoW delete, a
    DV delete and a merge, a time-travel read and a full read (both
    through the function API). Every read is checked against the state
    the plan tracks."""

    name = "versioned_rw"
    READ_SPANS = {"point": "versioned.point_read", "range": "versioned.range_read",
                  "scan": "versioned.scan", "time_travel": "versioned.time_travel"}

    def __init__(self, ctx, work_dir, seed, tiny=False):
        super().__init__(ctx, work_dir)
        self.plan = inputs.VersionedPlan(os.path.join(work_dir, "batches"), seed,
                                         rows=300 if tiny else 4000)
        self.input_info = {"bytes": self.plan.bytes, "batches": len(self.plan.batches),
                           "rows_per_batch": self.plan.rows}
        self.sizes: list[dict] = []

    def passes_ops(self, pass_no):
        from mapreduce_4_spark.sources.pyds import register_versioned_source
        register_versioned_source(self.ctx.spark)
        table = os.path.join(self.work, "tables", f"t{pass_no + 1}")
        shutil.rmtree(table, ignore_errors=True)
        st = {"table": table, "versions": [None], "state": {}, "states": {}, "bytes": 0}

        def read(door, kind, b=None):
            return Op(f"{door}.{kind}", "read", lambda: self._read(st, kind, door, b),
                      lambda res: self._check_read(st, kind, b, res))

        def commit(name, run):
            return Op(name, "commit", run, lambda v: self._after_commit(st, v, name))

        ops = []
        for b in range(len(self.plan.batches)):
            ops.append(commit("append", lambda b=b: self._append(st, b)))
            # the doors alternate, so each serves a point and a range read
            ops.append(read(("fn", "pyds")[b % 2], ("point", "range")[b // 2 % 2], b))
        for name in ("compact", "cow_delete", "dv_delete", "merge"):
            ops.append(commit(name, lambda name=name: self._mutate(st, name)))
        ops += [read("fn", "time_travel"), read("fn", "scan")]
        return ops

    def corrupt(self):
        rows = self.plan.batches[0]["rows"]
        rows[min(rows)] += 1.0

    def _append(self, st, b):
        from mapreduce_4_spark.sources import versioned
        spark, tr = self.ctx.spark, self.ctx.tr
        with tr.span("versioned.append", fn="versioned.write_version"):
            df = spark.read.schema(_spark_schema()).parquet(self.plan.batches[b]["path"])
            v = versioned.write_version(df, st["table"], append=True,
                                        stats_for=["k"], bloom_for=["k"])
        st["pending"] = {**st["state"], **self.plan.batches[b]["rows"]}
        return v

    def _mutate(self, st, name):
        from mapreduce_4_spark.sources import versioned as V
        spark, tr, p = self.ctx.spark, self.ctx.tr, self.plan
        state = dict(st["state"])
        if name == "cow_delete":
            with tr.span("versioned.cow_delete", fn="versioned.delete_version_pruned"):
                v = V.delete_version_pruned(spark, st["table"], keys=p.cow_keys, key="k")
            for k in p.cow_keys:
                state.pop(k, None)
        elif name == "dv_delete":
            with tr.span("versioned.dv_delete", fn="versioned.delete_version_dv"):
                v = V.delete_version_dv(spark, st["table"], keys=p.dv_keys, key="k")
            for k in p.dv_keys:
                state.pop(k, None)
        elif name == "merge":
            with tr.span("versioned.merge", fn="versioned.merge_version_pruned"):
                upd = spark.read.schema(_spark_schema()).parquet(p.merge["path"])
                v = V.merge_version_pruned(spark, st["table"], upd, key="k")
            state.update(p.merge["rows"])
        else:
            with tr.span("versioned.compact", fn="versioned.compact_tail"):
                v = V.compact_tail(spark, st["table"])
        if isinstance(v, tuple):
            v = v[0]
        st["pending"] = state
        return v

    def _after_commit(self, st, v, name):
        if not isinstance(v, int) or v in st["versions"]:
            return f"commit returned {v!r}, not a new version"
        st["versions"].append(v)
        st["states"][v] = st["pending"]
        st["state"] = st["pending"]
        size = inputs.dir_bytes(st["table"])
        if name in ("cow_delete", "dv_delete", "merge"):
            self.sizes.append({"mutation": name, "written_bytes": size - st["bytes"]})
        if name == "merge":  # the pass's last commit
            self.sizes.append({"table_bytes": size, "live_rows": len(st["state"])})
        st["bytes"] = size
        return None

    def _read(self, st, kind, door, b):
        """Returns (rows or (count, sum), the version read, its span)."""
        from pyspark.sql import functions as F
        from mapreduce_4_spark.sources import versioned as V
        spark, tr, p = self.ctx.spark, self.ctx.tr, self.plan
        table, cur = st["table"], st["versions"][-1]
        if kind == "time_travel":
            v = st["versions"][-2] if len(st["versions"]) > 2 else cur
        else:
            v = cur
        layer = "pyds.read" if door == "pyds" else self.READ_SPANS[kind]
        with tr.span(layer, kind=kind) as s:
            if door == "pyds":
                r = spark.read.format("mr4ver").option("version", str(v))
                if kind == "point":
                    r = r.option("probe", "k:" + ",".join(map(str, p.point_keys[b])))
                elif kind == "range":
                    lo, hi = self._range(b)
                    r = r.option("where", f"k:{lo}:{hi}")
                df = r.load(table)
            elif kind == "point":
                df = V.read_version_bloom_pruned(spark, table, "k", p.point_keys[b], version=v)
            elif kind == "range":
                lo, hi = self._range(b)
                df = V.read_version_stats_pruned(spark, table, "k", lo, hi, version=v)
            else:
                df = V.read_version(spark, table, version=v)
            with tr.span("exec.collect"):
                if kind in ("point", "range"):
                    res = sorted((r["k"], r["l_extendedprice"]) for r in
                                 df.select("k", "l_extendedprice").collect())
                else:
                    row = df.agg(F.count(F.lit(1)), F.sum("l_extendedprice")).collect()[0]
                    res = (row[0], row[1])
        return res, v, s

    def _range(self, b):
        lo = b * self.plan.rows + 100
        return lo, lo + 199

    def _check_read(self, st, kind, b, res):
        got, v, span = res
        state = st["states"][v]
        if kind in ("point", "range"):
            if kind == "point":
                keys = [k for k in self.plan.point_keys[b] if k in state]
            else:
                lo, hi = self._range(b)
                keys = [k for k in range(lo, hi + 1) if k in state]
            want = sorted((k, state[k]) for k in keys)
            if span is not None:
                span["rows_returned"] = len(got)
            return None if got == want else f"{kind} read at v{v}: {len(got)} rows, want {len(want)}"
        n, total = got
        want_sum = sum(state.values())
        if n != len(state) or not math.isclose(total or 0.0, want_sum, rel_tol=1e-9):
            return f"{kind} read at v{v}: count {n} sum {total}, want {len(state)} {want_sum}"
        return None


def _spark_schema():
    from pyspark.sql import types as T
    return T.StructType([T.StructField("k", T.LongType()),
                         T.StructField("l_quantity", T.DoubleType()),
                         T.StructField("l_extendedprice", T.DoubleType()),
                         T.StructField("l_returnflag", T.StringType())])


WORKLOADS = {
    "wordcount_corpus": WordcountCorpus,
    "star_queries": StarQueries,
    "versioned_rw": VersionedRW,
}
