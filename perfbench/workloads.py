"""The workloads. Each has a ``setup`` (counted in ``setup_s``), a
``cycle`` of fixed composition (a pass) that the timed loop repeats
``passes`` times, and ``layers``, which turns the spans of traced passes
into per-layer metrics.

Every call into the package goes through its public functions: ``Store``,
``View``, ``Q``, ``sources``, ``operators.*`` and the ops of
``__spark_entry__.queries()``. Each unit call is timed with
:meth:`Run.call`; each output check goes through :meth:`Run.check`.
"""

from __future__ import annotations

import json
import math
import os
import random
import statistics
import sys
import time
from contextlib import contextmanager
from typing import NamedTuple

from perfbench import box, corpus
from perfbench.digest import digest_df

HERE = os.path.dirname(os.path.abspath(__file__))


def _entity_dict(row) -> dict:
    """A Row of an entity DataFrame in ``View``'s dict shape."""
    d = row.asDict(recursive=True)
    d["properties"] = dict(d["properties"] or {})
    return d


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _p90(xs) -> float:
    xs = list(xs)
    return statistics.quantiles(xs, n=10)[8] if len(xs) > 1 else _median(xs)


def kind_medians(run: "Run", field: str = "wall_s") -> dict[str, float]:
    """Median of ``field`` over the untraced unit calls of each kind."""
    kinds = sorted({c.kind for c in run.calls if not c.traced})
    return {k: _median(run.untraced((k,), field)) for k in kinds}


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(dirpath, fn))
    return total


class Call(NamedTuple):
    """One unit call of the timed region."""

    kind: str
    wall_s: float
    #: CPU seconds of every process of the run during the call
    cpu_s: float
    traced: bool


class Run:
    """State of one benchmark run shared by the workload code."""

    def __init__(self, spark, tracer, seed: int, workdir: str, tables: str,
                 trace: bool = False):
        self.spark = spark
        #: whether this run traces (set-up work is traced too)
        self.trace = trace
        self.tracer = tracer
        self.seed = seed
        self.rng = random.Random(seed)
        self.workdir = workdir
        self.tables = tables
        self.jvm_pid = spark._jvm.ProcessHandle.current().pid()
        self.calls: list[Call] = []
        #: ``box.speed_probe_s`` before each unit call, set-up's included
        self.probes: list[float] = []
        self.recording = False
        self.attempted = 0
        self.failed = 0
        self.facts: dict = {}

    @contextmanager
    def call(self, kind: str, layer: str, python: bool = False):
        """Time one unit call (a batch write, a View call, an op) and
        trace it as a span of ``layer``."""
        self.probes.append(box.speed_probe_s())
        cpu0, t0 = box.tree_cpu_s(), time.perf_counter()
        with self.tracer.span(layer, python=python, kind=kind) as rec:
            yield rec
        if self.recording:
            wall = time.perf_counter() - t0
            self.calls.append(Call(kind, wall, box.tree_cpu_s() - cpu0,
                                   self.tracer.enabled))

    def untraced(self, kinds=None, field: str = "wall_s") -> list[float]:
        """``field`` of the untraced unit calls, optionally of some kinds."""
        return [getattr(c, field) for c in self.calls
                if not c.traced and (kinds is None or c.kind in kinds)]

    def check(self, ok: bool, what: str) -> None:
        """Count one output check; set-up and warm-up checks count too."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr)


# --------------------------------------------------------------------------
# the store build: the write path, run once in set-up


class Build:
    """Load of a seeded corpus in one batch (more batches cost the
    benchmark's time budget more than they tell), one upsert batch that
    rewrites a share of the entities with a later ``last_seen``,
    ``Store.optimize()`` and ``Store.build_value_index()``. Timed call by
    call. Traced runs write with fingerprints and also time the explode
    and the fingerprint derivation of the first batch on their own;
    untraced runs write without them, as serving needs none and their
    Python UDF costs a sixth of a run."""

    upsert_share = 0.25

    def __init__(self, run: Run, spec: corpus.CorpusSpec):
        from ftm_columnstore_spark import Store
        from ftm_columnstore_spark.sources.ftm_json import read_entities

        ents = corpus.generate(run.seed, spec)
        self.answers = a = corpus.Answers(ents)
        root = os.path.join(run.workdir, "input")
        files = corpus.write_batches(ents, root, len(ents))
        upsert = random.Random(run.seed).sample(ents, int(len(ents) * self.upsert_share))
        files += corpus.write_batches(upsert, os.path.join(root, "upsert"), len(upsert))
        uri = os.path.join(run.workdir, "store")
        self.store = store = Store(run.spark, uri)
        self.write_s = []
        for i, (path, n_stmts) in enumerate(files):
            seen = "2024-02-01T00:00:00" if i else "2024-01-01T00:00:00"
            if i == 0 and run.tracer.enabled:
                self._probe_batch(run, path)
            t0 = time.perf_counter()
            with run.call("write", "store.write", python=True) as rec:
                store.write_entities(read_entities(run.spark, path),
                                     last_seen=seen, with_fingerprints=run.trace)
                rec["statements"] = n_stmts
            self.write_s.append(time.perf_counter() - t0)
        self.written = sum(n for _p, n in files)
        on_disk = _dir_bytes(uri)
        run.check(store.statements().count() == a.statements,
                  "dedup-on-read count unchanged by the upsert")
        t0 = time.perf_counter()
        with run.call("optimize", "store.optimize") as rec:
            store.optimize()
        self.optimize_s = time.perf_counter() - t0
        raw = run.spark.read.parquet(os.path.join(uri, "statements")).count()
        self.dups_dropped = self.written - raw
        run.check(store.statements().count() == raw == a.statements,
                  "compacted count equals the dedup-on-read count")
        self.stmt_bytes = _dir_bytes(os.path.join(uri, "statements"))
        store_bytes = self.stmt_bytes + _dir_bytes(os.path.join(uri, "fpx"))
        self.bytes_written_per_stmt = on_disk / self.written
        self.bytes_per_stmt = store_bytes / a.statements
        t0 = time.perf_counter()
        with run.call("value_index", "store.value_index"):
            store.build_value_index()
        self.value_index_s = time.perf_counter() - t0
        run.facts.update(
            entities=len(ents), statements=a.statements,
            upsert_statements=files[-1][1], store_bytes=store_bytes,
            corpus_digest=corpus.digest(ents),
        )

    def _probe_batch(self, run: Run, path: str) -> None:
        from ftm_columnstore_spark.operators.blocking import derive_fingerprints
        from ftm_columnstore_spark.sources.ftm_json import read_entities
        from ftm_columnstore_spark.sources.statements import (
            entities_to_statements,
        )

        ents = read_entities(run.spark, path)
        with run.tracer.span("sources.explode") as rec:
            rec["rows"] = entities_to_statements(ents).count()
            rec["entities"] = ents.count()
        with run.tracer.span("blocking.fpx", python=True) as rec:
            rec["rows"] = derive_fingerprints(entities_to_statements(ents)).count()
            rec["names"] = self.answers.name_statements

    def metrics(self) -> dict:
        return {
            "ingest_stmts_per_s": self.written / sum(self.write_s),
            "optimize_s": self.optimize_s,
            "bytes_per_stmt": self.bytes_per_stmt,
            "store.value_index_s": self.value_index_s,
        }

    def layers(self, run: Run) -> dict:
        t = run.tracer
        writes = t.by_name("store.write")
        explode, fpx = t.by_name("sources.explode"), t.by_name("blocking.fpx")
        return {
            "sources.explode_s": _median(s["dur"] for s in explode),
            "sources.stmts_per_entity": _median(
                s["rows"] / s["entities"] for s in explode),
            "store.write_s": _median(s["dur"] for s in writes),
            "store.write_jobs": _median(s["jobs"] for s in writes),
            "store.write_shuffle_mb": _median(
                s["shuffle_write_bytes"] / 1e6 for s in writes),
            "store.bytes_written_per_stmt": self.bytes_written_per_stmt,
            "blocking.fpx_s": _median(s["dur"] for s in fpx),
            "blocking.fpx_rows": _median(s["rows"] for s in fpx),
            "phonetics.tokens_encoded": _median(s["python_rows"] for s in fpx),
            "phonetics.encode_ratio": _median(
                s["python_rows"] / s["names"] for s in fpx),
            "phonetics.python_rows": _median(s["python_rows"] for s in writes),
            "store.optimize_jobs": _median(
                s["jobs"] for s in t.by_name("store.optimize")),
            "store.optimize_bytes_rewritten_per_stmt":
                self.stmt_bytes / self.answers.statements,
            "store.optimize_dups_dropped": self.dups_dropped,
        }


# --------------------------------------------------------------------------
# serve: the View mix over the built store, plain and resolved


class Mix:
    """A fixed sequence of View calls; the seed picks their targets."""

    def __init__(self, run: Run, answers: corpus.Answers, canon=None,
                 prefix: str = ""):
        self.run = run
        self.prefix = prefix
        self.a = answers
        self.canon = canon or (lambda eid: eid)
        self.ids: dict = {}
        for e in answers.entities:
            self.ids.setdefault(e["schema"], []).append(e["id"])
            if "dup_of" in e:
                self.ids.setdefault(("dup", e["schema"]), []).append(e["id"])

    def _pick(self, schema: str, dup: bool = False) -> str:
        ids = self.ids[("dup", schema) if dup else schema]
        return self.run.rng.choice(ids)

    def _canon_count(self, pred) -> int:
        return len({self.canon(e["id"]) for e in self.a.entities if pred(e)})

    # --- point ops --------------------------------------------------------
    def get_entity(self, view, schema: str, dup: bool = False) -> None:
        eid = self._pick(schema, dup)
        with self.run.call(self.prefix + "get_entity", "operators.assembly") as rec:
            if self.run.tracer.enabled:
                from ftm_columnstore_spark.operators.assembly import get_entity

                rows = _phased(rec, lambda: get_entity(
                    view.store.statements(view.dataset), eid), "collect")
                ent = _entity_dict(rows[0]) if rows else None
            else:
                ent = view.get_entity(eid)
        if self.canon(eid) != eid or ent is None:
            self.run.check(ent is not None and ent["id"] == self.canon(eid),
                           f"get_entity({eid}) resolves to its canonical id")
            return
        self.run.check(
            ent["schema"] == schema and ent["properties"] == self.a.props(eid),
            f"get_entity({eid}) returns the generated entity")

    def get_adjacent(self, view, schema: str) -> None:
        eid = self._pick(schema)
        with self.run.call(self.prefix + "get_adjacent", "operators.graph"):
            edges = list(view.get_adjacent(eid))
        out = {(p, n) for d, p, n in edges if d == "out"}
        inc = {n for d, _p, n in edges if d == "in"}
        want_in = {self.canon(i) for i in self.a.incoming(eid)}
        self.run.check(out == self.a.outgoing(eid) and inc == want_in,
                       f"get_adjacent({eid}) edges")

    def get_inverted(self, view, schema: str) -> None:
        eid = self._pick(schema)
        with self.run.call(self.prefix + "get_inverted", "operators.graph"):
            refs = {n for _p, n in view.get_inverted(eid)}
        want = {self.canon(i) for i in self.a.incoming(eid)}
        self.run.check(refs == want, f"get_inverted({eid}) referrers")

    # --- queries ----------------------------------------------------------
    def _entities(self, view, q, kind: str) -> list:
        """``View.entities(q)``; traced, split into build (DataFrame
        construction), Catalyst (executed plan) and execution."""
        with self.run.call(self.prefix + kind, "plans.compiler") as rec:
            if not self.run.tracer.enabled:
                return list(view.entities(q))
            rows = _phased(rec, lambda: view.entities_df(q), "toLocalIterator")
            rec["results"] = len(rows)
            return [_entity_dict(r) for r in rows]

    def entities(self, view, q, kind: str, want: int, what: str) -> None:
        got = len(self._entities(view, q, kind))
        self.run.check(got == want, f"{what}: {got} entities, want {want}")

    def by_country(self, view) -> None:
        from ftm_columnstore_spark import Q

        c = self.run.rng.choice(corpus.COUNTRIES)
        want = self._canon_count(
            lambda e: e["schema"] == "Person"
            and c in e["properties"].get("country", ()))
        self.entities(view, Q().where(schema="Person", country=c), "by_country", want,
                      f"Person country={c}")

    def search(self, view) -> None:
        from ftm_columnstore_spark import Q

        name = self.a.by_id[self._pick("Person")]["properties"]["name"][0]
        term = name.split()[0].lower()
        want = self._canon_count(lambda e: any(
            term in v.lower() for v in e["properties"].get("name", ())))
        self.entities(view, Q().search(term), "search", want,
                      f"search {term!r}")

    def top_payments(self, view) -> None:
        from ftm_columnstore_spark import Q

        n = self.run.rng.randint(5, 15)
        q = Q().where(schema="Payment").order_by("amountEur", ascending=False)[:n]
        got = [float(e["properties"]["amountEur"][0])
               for e in self._entities(view, q, "top_payments")]
        want = sorted(
            (float(e["properties"]["amountEur"][0])
             for e in self.a.entities if e["schema"] == "Payment"),
            reverse=True)[:n]
        self.run.check(got == want, f"top {n} payments by amountEur")

    def sum_by_year(self, view) -> None:
        from ftm_columnstore_spark import Q

        q = Q().where(schema="Payment").aggregate("sum", "amountEur", groups="year")
        with self.run.call(self.prefix + "sum_by_year", "operators.aggregations"):
            res = view.aggregations(q)
        by_year: dict[str, float] = {}
        for e in self.a.entities:
            if e["schema"] == "Payment":
                y = e["properties"]["date"][0][:4]
                by_year[y] = by_year.get(y, 0.0) + float(e["properties"]["amountEur"][0])
        total = sum(by_year.values())
        groups = res["groups"]["year"]["sum"]["amountEur"]
        self.run.check(
            math.isclose(res["sum"]["amountEur"], total, rel_tol=1e-9)
            and all(math.isclose(v, by_year[g], rel_tol=1e-9)
                    for g, v in groups.items()),
            "sum(amountEur) by year")

    def count_by_country(self, view) -> None:
        from ftm_columnstore_spark import Q

        q = Q().where(schema="Person").aggregate("count", "id", groups="country")
        with self.run.call(self.prefix + "count_by_country", "operators.aggregations"):
            res = view.aggregations(q)
        want = {
            c: self._canon_count(lambda e, c=c: e["schema"] == "Person"
                                 and c in e["properties"]["country"])
            for c in corpus.COUNTRIES
        }
        got = res["groups"]["country"]["count"]["id"]
        self.run.check(got == want, "count(Person) by country")

    def stats(self, view) -> None:
        with self.run.call(self.prefix + "stats", "operators.aggregations"):
            st = view.stats()
        self.run.check(st["entity_count"] == self._canon_count(lambda e: True),
                       "stats() entity count")


class Serve:
    """One closed-loop client over a compacted, value-indexed store, reading
    through the plain view (the compacted fast path of ``statements()``).

    Traced runs also build a resolver by xref → accepted edges → connected
    components in set-up and add one query on the resolved view (the
    dedup-on-read path plus the canonical-map join) to every pass. Untraced
    runs leave both out: they cost a quarter of a run, more than the
    benchmark's time budget leaves."""

    spec = corpus.CorpusSpec(
        people=450, companies=220, orgs=70, addresses=130, payments=600
    )
    POINT = ("get_entity", "get_adjacent", "get_inverted")
    #: untimed warm-up passes, counted in set-up
    warmups = 1
    #: timed passes a run makes (a traced run makes as many traced ones)
    passes = 1

    def setup(self, run: Run) -> None:
        from ftm_columnstore_spark import Store

        # a traced run traces its set-up too: that is where the write
        # path and the resolver are exercised
        run.tracer.enabled = run.trace
        try:
            self.build = Build(run, self.spec)
            self.store, self.answers = self.build.store, self.build.answers
            if run.trace:
                self.resolved = Store(run.spark, self.store.uri)
                canon = self._resolve(run)
        finally:
            run.tracer.enabled = False
        self.mix = Mix(run, self.answers)
        if run.trace:
            self.rmix = Mix(run, self.answers, lambda eid: canon.get(eid, eid),
                            prefix="resolved.")
            # a duplicate reads back under its canonical id
            self.rmix.get_entity(self.resolved.view(), "Person", dup=True)

    def _resolve(self, run: Run) -> dict[str, str]:
        from ftm_columnstore_spark.operators.blocking import connected_components
        from ftm_columnstore_spark.operators.xref import (
            accepted_edges,
            build_xref,
        )

        t0 = time.perf_counter()
        with run.tracer.span("operators.xref", python=True):
            edges = accepted_edges(
                build_xref(self.store.statements(), min_entities=2)).persist()
            pairs = edges.collect()
        with run.tracer.span("cc"):
            rows = connected_components(edges).collect()
        # the resolver reads a saved map, as a deployment would load one
        self.resolved.set_resolver(run.spark.createDataFrame(
            rows, "entity_id string, canonical_id string"))
        self.resolve_s = time.perf_counter() - t0
        self.edges = len(pairs)
        canon = {r["entity_id"]: r["canonical_id"] for r in rows}
        run.spark.catalog.clearCache()
        run.check(all(canon.get(r["left_id"]) == canon.get(r["right_id"]) is not None
                      for r in pairs), "accepted edge ends share a canonical_id")
        exact = [d for d in self.answers.entities if "dup_of" in d
                 and d["properties"]["name"]
                 == self.answers.by_id[d["dup_of"]]["properties"]["name"]]
        run.check(all(canon.get(d["id"]) == canon.get(d["dup_of"]) is not None
                      for d in exact), "exact duplicates are merged")
        if run.tracer.enabled:
            _probe_xref(run, self.store)
        return canon

    def cycle(self, run: Run) -> None:
        m, view = self.mix, self.store.view()
        m.get_entity(view, "Person")
        m.by_country(view)
        m.get_adjacent(view, "Company")
        m.search(view)
        m.top_payments(view)
        m.get_inverted(view, "Address")
        m.sum_by_year(view)
        m.count_by_country(view)
        m.stats(view)
        if run.trace:
            self.rmix.by_country(self.resolved.view())
        if run.tracer.enabled:
            _probe_read(run, self.store)
            _probe_read(run, self.resolved, "store.read.resolved")

    def metrics(self, run: Run) -> dict:
        plain = [c.wall_s for c in run.calls
                 if not c.traced and not c.kind.startswith("resolved.")]
        return {
            **self.build.metrics(),
            "serve_p50_s": _median(plain),
            "serve_p90_s": _p90(plain),
            "serve_samples": len(plain),
            "lookup_p50_s": _median(run.untraced(self.POINT)),
            "resolve_s": getattr(self, "resolve_s", 0.0),
            "resolved_serve_p50_s": _median(
                c.wall_s for c in run.calls
                if not c.traced and c.kind.startswith("resolved.")),
        }

    def layers(self, run: Run) -> dict:
        t = run.tracer
        cc = t.by_name("cc")
        pairs = _median(s["rows"] for s in t.by_name("xref.pairs"))
        return {
            **self.build.layers(run), **_read_layers(run), **_view_layers(run),
            "xref.blocking_s": _median(s["dur"] for s in t.by_name("xref.blocking")),
            "xref.pairs_s": _median(s["dur"] for s in t.by_name("xref.pairs")),
            "xref.score_s": _median(s["dur"] for s in t.by_name("xref.score")),
            "xref.candidate_pairs": pairs,
            "xref.accept_ratio": self.edges / max(1, pairs),
            "cc.s": _median(s["dur"] for s in cc),
            "cc.edges": self.edges,
            # connected_components' default small-graph threshold
            "cc.small_graph_path": int(0 < self.edges <= 100_000),
            "cc.jobs": _median(s["jobs"] for s in cc),
        }


def _phased(rec: dict, build, action: str) -> list:
    """Build a DataFrame, plan it, run it; the phase times go on ``rec``."""
    t0 = time.perf_counter()
    df = build()
    t1 = time.perf_counter()
    df._jdf.queryExecution().executedPlan()
    t2 = time.perf_counter()
    rows = list(getattr(df, action)())
    rec.update(build_s=t1 - t0, catalyst_s=t2 - t1,
               exec_s=time.perf_counter() - t2)
    return rows


def _probe_read(run: Run, store, name: str = "store.read") -> None:
    """Traced cycles only: build and execute ``Store.statements()`` alone."""
    from pyspark.sql import functions as F

    with run.tracer.span(name) as rec:
        t0 = time.perf_counter()
        df = store.statements()
        rec["build_s"] = time.perf_counter() - t0
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        rec["dedup_path"] = int("Aggregate" in plan)
        t1 = time.perf_counter()
        df.select(F.try_sum(F.xxhash64("id"))).collect()
        rec["exec_s"] = time.perf_counter() - t1


def _read_layers(run: Run) -> dict:
    reads = run.tracer.by_name("store.read")
    resolved = run.tracer.by_name("store.read.resolved")
    return {
        "store.resolved_read_exec_s": _median(s["exec_s"] for s in resolved),
        "store.resolved_dedup_shuffle_mb": _median(
            s["shuffle_write_bytes"] / 1e6 for s in resolved),
        "store.read_build_s": _median(s["build_s"] for s in reads),
        "store.read_exec_s": _median(s["exec_s"] for s in reads),
        "store.read_dedup_path": _median(s["dedup_path"] for s in reads),
        "store.scan_mb": _median(s["input_bytes"] / 1e6 for s in reads),
        "store.dedup_shuffle_mb": _median(
            s["shuffle_write_bytes"] / 1e6 for s in reads),
    }


def _view_layers(run: Run) -> dict:
    t = run.tracer
    q = t.by_name("plans.compiler")
    asm = t.by_name("operators.assembly")
    graph = t.by_name("operators.graph")
    agg = t.by_name("operators.aggregations")
    return {
        "plans.build_s": _median(s["build_s"] for s in q),
        "plans.catalyst_s": _median(s["catalyst_s"] for s in q),
        "plans.exec_s": _median(s["exec_s"] for s in q),
        "plans.jobs_per_query": _median(s["jobs"] for s in q),
        "plans.stages_per_query": _median(s["stages"] for s in q),
        "plans.rows_examined_per_result": _median(
            s["input_rows"] / max(1, s.get("results", 1)) for s in q),
        "assembly.build_s": _median(s["build_s"] for s in asm),
        "assembly.exec_s": _median(s["exec_s"] for s in asm),
        "assembly.shuffle_mb": _median(s["shuffle_write_bytes"] / 1e6 for s in asm),
        "graph.exec_s": _median(s["dur"] for s in graph),
        "graph.jobs": _median(s["jobs"] for s in graph),
        "aggregations.exec_s": _median(s["dur"] for s in agg),
        "aggregations.jobs": _median(s["jobs"] for s in agg),
    }


def _probe_xref(run: Run, store) -> None:
    """Traced cycles only: the stages of ``build_xref`` one at a time,
    each persisted and counted so its span holds only its own work."""
    from ftm_columnstore_spark.operators.blocking import (
        blocking_candidates,
        candidate_pairs,
        derive_fingerprints,
        score_pairs,
    )

    t = run.tracer
    stmts = store.statements()
    with t.span("xref.fpx", python=True):
        fpx = derive_fingerprints(stmts).persist()
        fpx.count()
    with t.span("xref.blocking"):
        blocks = blocking_candidates(fpx, min_entities=2).persist()
        blocks.count()
    with t.span("xref.pairs") as rec:
        pairs = candidate_pairs(blocks).persist()
        rec["rows"] = pairs.count()
    with t.span("xref.score"):
        score_pairs(pairs, stmts).count()
    run.spark.catalog.clearCache()


# --------------------------------------------------------------------------
# operators


def _module_of(fn) -> str:
    """The package module an entry op imports (operators.* first), or
    ``spark`` when it imports none."""
    import ast
    import inspect
    import textwrap

    tree = ast.parse(textwrap.dedent(inspect.getsource(fn)))
    mods = [n.module.split("ftm_columnstore_spark.", 1)[1]
            for n in ast.walk(tree)
            if isinstance(n, ast.ImportFrom) and n.module
            and n.module.startswith("ftm_columnstore_spark.")]
    ops = [m for m in mods if m.startswith("operators.") and m != "operators.codecs"]
    return (ops or mods or ["spark"])[0]


class Operators:
    """Ops of ``bench.HEADLINE``, run solo one at a time over the fixed
    tables of :mod:`perfbench.tables`; the seed shuffles their order.

    One op for each of six operator modules, the ones whose HEADLINE ops
    are cheapest cold and warm: all 111 HEADLINE ops take about 90 s a
    pass on four cores, and the benchmark's time budget leaves a run of
    this workload about 45 s, set-up and its warm-up pass included."""

    OPS = (
        "t18_chunk_documents",      # operators.text
        "d2_exact_dup_groups",      # operators.dedup
        "a27_log2_histogram",       # operators.sketches
        "t8_deterministic_shuffle", # operators.sampling
        "w7_sessionize",            # operators.temporal
        "t34_phrase_match",         # operators.retrieval
    )
    #: untimed warm-up passes, counted in set-up: the first pass after
    #: the cold one still runs slow
    warmups = 2
    #: timed passes a run makes (a traced run makes as many traced ones)
    passes = 4

    def setup(self, run: Run) -> None:
        import __spark_entry__
        from bench import HEADLINE

        missing = [op for op in self.OPS if op not in HEADLINE]
        if missing:
            raise SystemExit(f"perfbench: ops not in bench.HEADLINE: {missing}")
        qs = __spark_entry__.queries()
        self.fns = {op: qs[op] for op in self.OPS}
        self.module = {op: _module_of(fn) for op, fn in self.fns.items()}
        with open(os.path.join(HERE, "digests.json")) as fh:
            self.want = json.load(fh)
        # digests go into the run record, which is how digests.json is made
        self.got = run.facts["digests"] = {}

    def cycle(self, run: Run) -> None:
        order = list(self.OPS)
        run.rng.shuffle(order)
        for op in order:
            with run.call(op, "ops", python=True) as rec:
                rec["module"] = self.module[op]
                if run.tracer.enabled:
                    self.got[op] = self._phased(run, op)
                else:
                    self.got[op] = digest_df(self.fns[op](run.spark, run.tables))
            run.check(self.got[op] == self.want.get(op),
                      f"{op} digest {self.got[op]} != {self.want.get(op)}")

    def _phased(self, run: Run, op: str) -> str:
        from perfbench.digest import digest_frame

        t = run.tracer
        with t.span("ops.build", python=True):
            df = self.fns[op](run.spark, run.tables)
        frame = digest_frame(df)
        with t.span("ops.plan"):
            frame._jdf.queryExecution().executedPlan()
        with t.span("ops.exec", python=True):
            return digest_df(df, frame)

    def metrics(self, run: Run) -> dict:
        per_op = {op: _median(run.untraced((op,))) for op in self.OPS}
        return {"ops_sum_s": sum(per_op.values()),
                "ops_geomean_s": math.exp(statistics.fmean(
                    math.log(v) for v in per_op.values()))}

    def layers(self, run: Run) -> dict:
        t = run.tracer
        out: dict[str, float] = {}
        for mod in sorted(set(self.module.values())):
            ops = [op for op in self.OPS if self.module[op] == mod]
            out[f"{mod}.solo_s"] = sum(
                _median(s["dur"] for s in t.by_name("ops")
                        if s["kind"] == op) for op in ops)
        n_passes = max(1, len(t.by_name("ops")) / len(self.OPS))
        def per_pass(name: str, key: str) -> float:
            return sum(s[key] for s in t.by_name(name)) / n_passes

        # the jobs of an op run in its child spans
        ops = [s for name in ("ops.build", "ops.plan", "ops.exec")
               for s in t.by_name(name)]
        out.update({
            "ops.build_s": per_pass("ops.build", "dur"),
            "ops.plan_s": per_pass("ops.plan", "dur"),
            "ops.exec_s": per_pass("ops.exec", "dur"),
            "ops.build_jobs": per_pass("ops.build", "jobs"),
            "ops.shuffle_mb": sum(s["shuffle_write_bytes"] for s in ops) / n_passes / 1e6,
            "ops.spill_mb": sum(s["spill_bytes"] for s in ops) / n_passes / 1e6,
            "ops.python_rows": sum(s["python_rows"] for s in ops) / n_passes,
        })
        return out


WORKLOADS = {"serve": Serve, "operators": Operators}
