"""Set-up, one operation and the correctness gate of each workload.

Every workload drives the public entry points only: ``pipeline.build_kg``
for the two build workloads and ``operators.sparql.sparql`` for the read
workload, the same calls ``jobs/build_kg.py`` and ``jobs/query_kg.py``
make. The program sees the generated corpus only as a parquet file.

A workload object is created once per run::

    w = WORKLOADS[name](ctx)
    w.setup()                  # untimed by the op clock, timed as setup_s
    res = w.op(i, tracer)      # one closed-loop operation -> OpResult
    ok = w.gate(res)           # correctness, outside the timed window

Gates compare against answers computed independently of Spark: the
kernel + ``oracle.derive_triples`` for a cold build, a cold build of
the same edited source for a delta build, DuckDB for every query.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from pawpaw_spark.kernel import segment_text
from pawpaw_spark.oracle import derive_triples
from pawpaw_spark.rulesets import LANG_RULES, TEXT_RULES

import queries

# 4k files keep the generator's 40% mega-repo skew; a warm cold build
# takes ~10 s on 4 cores, most of it fixed per-job cost. The size is set
# by the run budget: a run (JVM start, warm-up build, one timed build or
# six rounds of queries) must stay under a minute
N_FILES = 4000
WARM_ROUNDS = 2
MEGA_REPO = "org0/repo0"
EDITED_REPOS = 3

_SOURCE_SCHEMA = pa.schema(
    [(c, pa.string()) for c in ("repo", "path", "commit", "lang", "content", "sha256")]
)


@dataclass
class OpResult:
    wall_s: float
    rows: int = 0  # triples produced (builds) or answer rows (queries)
    out_dir: str | None = None
    answer: list | None = None
    query: str | None = None
    attrs: dict = field(default_factory=dict)


def write_source(rows: list[dict], path: str) -> None:
    pq.write_table(pa.Table.from_pylist(rows, schema=_SOURCE_SCHEMA), path)


def doc_id(r: dict) -> str:
    return f"{r['repo']}/{r['path']}@{r['commit']}"


def oracle_triples(rows: list[dict]) -> set[tuple[str, str, str]]:
    """The (subj, pred, obj) set a build must produce: kernel segments
    of every file run through the triple-derivation spec."""
    out: set[tuple[str, str, str]] = set()
    for r in rows:
        rules = LANG_RULES.get(r["lang"], TEXT_RULES)
        value_descs = {d for rule in rules for d in rule.value_for}
        text = r["content"]
        records = [
            (a, b, desc, parent, text[a:b] if desc in value_descs else None)
            for a, b, desc, parent, _depth, _tag in segment_text(text, rules)
        ]
        out |= derive_triples(doc_id(r), r["repo"], records)
    return out


def edit_rows(rows: list[dict], seed: int) -> list[dict]:
    """A day-2 ingest: every file of ``EDITED_REPOS`` non-mega repos gets
    a new commit whose content adds one definition (python) or one line
    (everything else)."""
    repos = sorted({r["repo"] for r in rows} - {MEGA_REPO})
    chosen = sorted(random.Random(seed).sample(repos, EDITED_REPOS))
    out = []
    for r in rows:
        if r["repo"] in chosen:
            n = r["path"].rsplit("/f", 1)[-1].split(".")[0]
            if r["lang"] == "python":
                content = r["content"] + f"\n\ndef edited_{n}(x, y):\n    z = load_data(x)\n    return z\n"
            else:
                content = r["content"] + f"\nedited line {n}.\n"
            r = dict(
                r,
                content=content,
                commit=hashlib.sha1(f"edit:{r['commit']}".encode()).hexdigest()[:12],
                sha256=hashlib.sha256(content.encode()).hexdigest(),
            )
        out.append(r)
    return out


def _scan(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


def table_columns(con, path: str) -> list[str]:
    return sorted(r[0] for r in con.sql(f"DESCRIBE SELECT * FROM {_scan(path)}").fetchall())


def multiset_diff(con, a: str, b: str) -> int:
    """Rows in one table and not the other, counting duplicates."""
    cols = ", ".join(table_columns(con, a))
    return sum(
        con.sql(
            f"SELECT count(*) FROM (SELECT {cols} FROM {_scan(x)} "
            f"EXCEPT ALL SELECT {cols} FROM {_scan(y)})"
        ).fetchone()[0]
        for x, y in ((a, b), (b, a))
    )


def lineage_rows(con, store: str, stage: str) -> int:
    path = os.path.join(store, "_lineage")
    if not os.path.isdir(path):
        return 0
    return con.sql(
        f"SELECT count(*) FROM read_parquet('{path}/*.parquet') WHERE stage = '{stage}'"
    ).fetchone()[0]


def count_files(store: str, tables: tuple[str, ...]) -> int:
    return sum(
        f.endswith(".parquet")
        for t in tables
        for _, _, files in os.walk(os.path.join(store, t))
        for f in files
    )


def drop_one_row(table_dir: str) -> None:
    """Corrupt a written table: rewrite its largest file without its
    first row (used by the smoke test to prove the gates bite)."""
    files = [
        os.path.join(d, f)
        for d, _, fs in os.walk(table_dir)
        for f in fs
        if f.endswith(".parquet")
    ]
    victim = max(files, key=os.path.getsize)
    t = pq.read_table(victim, partitioning=None)
    pq.write_table(t.slice(1), victim)


def _span(tracer, name: str):
    return tracer.span(name) if tracer else nullcontext()


class Workload:
    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.con = duckdb.connect()
        self.con.sql("SET threads = 2")
        self.con.sql("SET memory_limit = '1GB'")

    def build(self, source_path: str, out_dir: str, tracer=None) -> float:
        from pawpaw_spark.pipeline import build_kg

        spark = self.ctx.spark
        t0 = time.perf_counter()
        with _span(tracer, "pipeline"):
            build_kg(spark, spark.read.parquet(source_path), out_dir)
        return time.perf_counter() - t0

    def build_stats(self, res: OpResult, before_lineage: int) -> None:
        store = res.out_dir
        res.rows = self.con.sql(
            f"SELECT count(*) FROM {_scan(os.path.join(store, 'edges'))}"
        ).fetchone()[0]
        recomputed = lineage_rows(self.con, store, "segments") - before_lineage
        res.attrs.update(
            buckets_recomputed=recomputed,
            recompute_ratio=recomputed / self.ctx.n_buckets_present,
            files_written=count_files(store, ("nodes", "edges_canonical")),
        )

    def close(self) -> None:
        self.con.close()


class BuildFull(Workload):
    """One operation = ``build_kg`` over the whole corpus into a fresh
    output directory (a cold build)."""

    name = "build_full"

    def setup(self) -> None:
        ctx = self.ctx
        # the first build in a session pays JIT, codegen and Python
        # worker start-up (~1.5x a warm build): run it untimed here
        warm = os.path.join(ctx.work, "warm")
        self.build(ctx.source_path, warm)
        ctx.n_buckets_present = lineage_rows(self.con, warm, "segments")
        t = time.perf_counter()
        triples = oracle_triples(ctx.rows)
        ctx.timings["oracle_s"] = time.perf_counter() - t
        self.con.register(
            "oracle_arrow",
            pa.table({k: [t[i] for t in triples] for i, k in enumerate(("subj", "pred", "obj"))}),
        )
        self.con.sql("CREATE TABLE oracle AS SELECT * FROM oracle_arrow")
        self.con.unregister("oracle_arrow")

    def op(self, i: int, tracer=None) -> OpResult:
        out = os.path.join(self.ctx.work, f"full_{i}")
        res = OpResult(self.build(self.ctx.source_path, out, tracer), out_dir=out)
        self.build_stats(res, 0)
        return res

    def corrupt(self, res: OpResult) -> None:
        drop_one_row(os.path.join(res.out_dir, "edges"))

    def gate(self, res: OpResult) -> bool:
        got = f"(SELECT DISTINCT subj, pred, obj FROM {_scan(os.path.join(res.out_dir, 'edges'))})"
        missing = self.con.sql(f"SELECT count(*) FROM (FROM oracle EXCEPT FROM {got})").fetchone()[0]
        extra = self.con.sql(f"SELECT count(*) FROM (FROM {got} EXCEPT FROM oracle)").fetchone()[0]
        res.attrs.update(missing=missing, extra=extra)
        return missing == 0 and extra == 0


class BuildDelta(Workload):
    """One operation = copy the base store (untimed), then ``build_kg``
    over the source with every file of three non-mega repos edited."""

    name = "build_delta"
    GATED = ("edges", "nodes", "edges_canonical")

    def setup(self) -> None:
        ctx = self.ctx
        self.base = os.path.join(ctx.work, "base")
        self.build(ctx.source_path, self.base)  # also the session warm-up
        ctx.n_buckets_present = lineage_rows(self.con, self.base, "segments")
        self.base_lineage = ctx.n_buckets_present
        self.edited_path = os.path.join(ctx.work, "edited.parquet")
        write_source(edit_rows(ctx.rows, ctx.seed), self.edited_path)
        self.ref = os.path.join(ctx.work, "reference")
        self.build(self.edited_path, self.ref)
        # the first delta in a session plans and compiles shapes a cold
        # build never runs (the lineage anti-join over a full log)
        self.op(-1)

    def op(self, i: int, tracer=None) -> OpResult:
        out = os.path.join(self.ctx.work, f"delta_{i}")
        shutil.copytree(self.base, out)
        res = OpResult(self.build(self.edited_path, out, tracer), out_dir=out)
        self.build_stats(res, self.base_lineage)
        return res

    def corrupt(self, res: OpResult) -> None:
        drop_one_row(os.path.join(res.out_dir, "edges_canonical"))

    def gate(self, res: OpResult) -> bool:
        diffs = {
            t: multiset_diff(self.con, os.path.join(res.out_dir, t), os.path.join(self.ref, t))
            for t in self.GATED
        }
        res.attrs["diff_rows"] = diffs
        return not any(diffs.values())


class QueryMix(Workload):
    """One operation = one SPARQL query of ``queries.MIX``, run through
    ``sparql()`` and collected; the mix cycles in a fixed order."""

    name = "query_mix"

    def setup(self) -> None:
        ctx = self.ctx
        base = os.path.join(ctx.work, "base")
        self.build(ctx.source_path, base)  # also the session warm-up
        ctx.n_buckets_present = lineage_rows(self.con, base, "segments")
        spark = ctx.spark
        self.tables = {}
        for t in ("edges", "edges_canonical"):
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM {_scan(os.path.join(base, t))}")
            self.tables[t] = spark.read.parquet(os.path.join(base, t)).select("subj", "pred", "obj")
        # anchor = the symbol with the most outgoing references, so the
        # path, ASK and DESCRIBE queries have non-trivial answers
        self.anchor = self.con.sql(
            "SELECT subj FROM edges WHERE pred = 'REFERENCES' AND subj LIKE 'sym:%' "
            "GROUP BY subj ORDER BY count(DISTINCT obj) DESC, subj LIMIT 1"
        ).fetchone()[0]
        self.expected = {
            name: _normal(self.con.sql(queries.render(sql, self.anchor, table)).fetchall(), kind)
            for name, table, _q, sql, kind in queries.MIX
        }
        # untimed rounds compile every query shape and let the JIT
        # settle: after one, the first timed round still ran 15-30% slow
        for i in range(WARM_ROUNDS * len(queries.MIX)):
            res = self.op(i)
            if not self.gate(res):
                raise RuntimeError(f"warm-up query {res.query} answered wrongly")

    def op(self, i: int, tracer=None) -> OpResult:
        from pawpaw_spark.operators.sparql import sparql

        name, table, text, _sql, _kind = queries.MIX[i % len(queries.MIX)]
        text = queries.render(text, self.anchor)
        t0 = time.perf_counter()
        with _span(tracer, "sparql"):
            with _span(tracer, "sparql.plan"):
                df = sparql(self.tables[table], text)
            with _span(tracer, "sparql.exec"):
                rows = df.collect()
        wall = time.perf_counter() - t0
        return OpResult(wall, rows=len(rows), answer=[tuple(r) for r in rows], query=name,
                        attrs={"answer_rows": len(rows)})

    def corrupt(self, res: OpResult) -> None:
        res.answer = res.answer[:-1] if len(res.answer) > 1 else [("corrupted",)]

    def gate(self, res: OpResult) -> bool:
        kind = next(k for n, _t, _q, _s, k in queries.MIX if n == res.query)
        return _normal(res.answer, kind) == self.expected[res.query]


def _normal(rows, kind: str):
    out = sorted(tuple(str(v) for v in r) for r in rows)
    return sorted(set(out)) if kind == "set" else out


WORKLOADS = {w.name: w for w in (BuildFull, BuildDelta, QueryMix)}
