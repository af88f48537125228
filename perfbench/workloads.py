"""The workloads of the KG benchmark.

Each workload has three phases, all driven from the benchmark's own
code through public ``recon_spark`` calls:

- ``generate`` + ``prepare`` (set-up): write the inputs with
  ``recon_spark.pages.generate_pages`` to parquet (the program only ever
  sees that parquet) and build what the workload needs before it is
  measured;
- ``op``: one measured unit of work, returning the number of items
  (pages, queries or documents) it processed. Lazy results are always
  materialized in full, by a real write or a ``noop`` write;
- ``check``: compare the outputs with an independent reference
  (tests/reference_impl.py or DuckDB); every comparison is an attempted
  operation and every mismatch a failed one.

``layers`` (traced runs only) times each layer from outside: lazy layers
as differences between materialized plan prefixes, eager layers per
call; the Spark job description names the layer for the event log.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from collections import Counter

from pyspark.sql import functions as F

from perfbench import sparql_mix
from perfbench.harness import Bench, cpu_seconds, dir_bytes, median, noop

N_PARTS = 4  # build_triples' output partitions: one per local core
CHECK_SAMPLE = 40  # pages per reference comparison


def _timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t0


def _rows(df) -> int:
    return int(df.agg(F.count(F.lit(1))).collect()[0][0])


def _ref_triples(page_ids, seed: int) -> set[tuple]:
    """Expected store rows (url, subj, pred, obj, subj_start) of pages."""
    from recon_spark.pages import page_content
    from tests.reference_impl import ref_triples

    out = set()
    for pid in page_ids:
        url, _lang, _html, text, _title = page_content(pid, seed)
        for s, p, o, start in ref_triples(pid, text):
            out.add((url, s, p, o, start))
    return out


def _stored_triples(store_df, urls) -> set[tuple]:
    rows = (
        store_df.where(F.col("url").isin(sorted(urls)))
        .select("url", "subj", "pred", "obj", F.col("subj_span.start"))
        .collect()
    )
    return {tuple(r) for r in rows}


def _store(spark, path: str, key_col: str = "triple_key"):
    from recon_spark.storage import SnapshotStore

    return SnapshotStore(spark, path, key_col=key_col, hash_col="content_hash")


def _snapshot_dir(store) -> str:
    return os.path.join(store.base, f"snap_{store.current_snapshot_id()}")


def _entail_and_write(spark, store_dir: str, out_dir: str) -> None:
    """The CLI's --entail step: RDFS closure of the stored rows, written
    partitioned by predicate."""
    from recon_spark.operators.reasoning import rdfs_entail

    ent = rdfs_entail(spark, _store(spark, store_dir).read().select("subj", "pred", "obj"))
    ent.repartition("pred").write.partitionBy("pred").mode("overwrite").parquet(out_dir)


def _entailed_matches(spark, store_dir: str, ent_dir: str) -> bool:
    """Spark's entailed KG equals DuckDB's recursive-CTE RDFS closure of
    the same stored rows."""
    import duckdb

    from recon_spark.operators.reasoning import sql_entailed_cte

    snap = _snapshot_dir(_store(spark, store_dir))
    got = {
        tuple(r)
        for r in spark.read.parquet(ent_dir).select("subj", "pred", "obj").collect()
    }
    con = duckdb.connect()
    try:
        want = set(
            con.execute(
                "WITH RECURSIVE kg AS (SELECT DISTINCT subj, pred, obj FROM "
                f"read_parquet('{snap}/*.parquet')), {sql_entailed_cte('kg')} "
                "SELECT subj, pred, obj FROM ent"
            ).fetchall()
        )
    finally:
        con.close()
    return got == want


def pipeline_layers(b: Bench, pages, fresh_store, storage_key: str):
    """Self times of build_triples' layers on ``pages``, from
    materialized plan prefixes (noop writes) that mirror the body of
    ``recon_spark.triples.build_triples``: self(k) = T(prefix through k)
    - T(prefix through k-1), each T the faster of two passes. The last
    prefix is the real build_triples call into ``fresh_store()``; its
    self time is reported under ``storage_key``. Returns (self times,
    build_triples metrics, store dir, the lazy intermediate frames)."""
    from recon_spark.operators.extraction import detect_mentions
    from recon_spark.operators.validation import validate_span_offsets
    from recon_spark.triples import build_triples, canonicalize_triples, extract_triples_spans

    spark = b.spark
    frames = {"storage.read_s": pages.repartition(N_PARTS, F.xxhash64("url"))}
    frames["extraction.s"] = detect_mentions(
        frames["storage.read_s"], id_col="page_id", text_col="text"
    )
    frames["validation.s"] = validate_span_offsets(frames["extraction.s"])
    frames["triples.s"] = extract_triples_spans(frames["validation.s"])
    frames["linker.s"] = canonicalize_triples(spark, frames["triples.s"])
    cum: dict[str, float] = {}
    for _ in range(2):  # fastest of two passes: the first may start workers
        for key, df in frames.items():
            b.describe("prefix:" + key.split(".")[0])
            t = _timed(noop, df)[1]
            cum[key] = min(cum.get(key, t), t)
    store_dir = fresh_store()
    b.describe("prefix:" + storage_key)
    m, cum[storage_key] = _timed(build_triples, spark, pages, store_dir, n_parts=N_PARTS)
    b.describe(None)
    out, prev = {}, 0.0
    for key, t in cum.items():
        out[key] = t - prev
        prev = t
    return out, m, store_dir, frames


def row_flow(spark, frames: dict, n_pages: int) -> dict[str, float]:
    """Row-flow ratios of the build layers, by aggregate actions outside
    any timed region."""
    from recon_spark.operators.linker import alias_df

    aliases = sorted(r[0] for r in alias_df(spark).select("alias").collect())
    raw = frames["triples.s"]
    n_raw = _rows(raw)
    linked = raw.agg(
        F.sum(F.col("subj").isin(aliases).cast("long") + F.col("obj").isin(aliases).cast("long"))
    ).collect()[0][0] or 0
    spans = frames["extraction.s"].agg(F.sum(F.size("spans"))).collect()[0][0] or 0
    return {
        "extraction.mentions_per_page": spans / n_pages,
        "validation.pass_ratio": _rows(frames["validation.s"]) / n_pages,
        "triples.per_page": n_raw / n_pages,
        "linker.link_ratio": linked / max(2 * n_raw, 1),
    }


class Workload:
    name = ""
    item = ""

    def __init__(self, b: Bench):
        self.b = b
        self.seed = b.seed
        self.sizes: dict[str, int] = {}
        self.checks: list[tuple[str, bool, str]] = []
        self.report: dict[str, float] = {}
        # one (unit, wall seconds, CPU seconds) per timed unit of an op
        self.samples: list[tuple[str, float, float]] = []

    @property
    def spark(self):
        return self.b.spark

    def expect(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append((name, bool(ok), detail))

    def generate(self) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        raise NotImplementedError

    def reopen(self) -> None:
        """Rebind DataFrames and warm up after a session restart."""

    def op(self, i: int, traced: bool) -> int:
        raise NotImplementedError

    def finish(self) -> None:
        """Sizes and end-to-end figures beyond latency and throughput."""

    def check(self) -> None:
        raise NotImplementedError

    def layers(self) -> dict[str, float]:
        raise NotImplementedError

    def _write_pages(self, n: int, path: str) -> None:
        from recon_spark.pages import generate_pages

        generate_pages(self.spark, n, seed=self.seed).write.parquet(path)
        self.sizes["pages"] = n

    def _describe(self, traced: bool, label: str) -> None:
        if traced:
            self.b.describe(label)


# --------------------------------------------------------------------------
# kg_query
# --------------------------------------------------------------------------

class KgQuery(Workload):
    """Set-up builds the KG the way ``python -m recon_spark --pages ...
    --entail ...`` does: ``build_triples`` of the base pages into an
    empty store, then the RDFS entailment written partitioned by
    predicate. The measured loop is one client running seed-drawn rounds
    of SPARQL queries, each timed from the compile_sparql call to its
    last row. The traced run also MERGEs a batch of new and re-crawled
    pages into a copy of the store."""

    name = "kg_query"
    item = "queries"
    BASE_PAGES = 400
    NEW_PAGES = 50  # per increment batch, plus as many re-crawled pages
    ROUNDS = 64  # more than any run reaches

    def generate(self) -> None:
        rng = random.Random(self.seed)
        self.new_ids = list(range(self.BASE_PAGES, self.BASE_PAGES + self.NEW_PAGES))
        self.batch_ids = sorted(self.new_ids + rng.sample(range(self.BASE_PAGES), self.NEW_PAGES))
        self.recrawl_ids = sorted(rng.sample(range(self.BASE_PAGES), self.NEW_PAGES))
        self.pages_dir = self.b.path("pages")
        self._write_pages(self.BASE_PAGES + self.NEW_PAGES, self.pages_dir)
        self.sizes["base_pages"] = self.BASE_PAGES
        self.sizes["batch_pages"] = len(self.batch_ids)

    def base_pages(self):
        return self.spark.read.parquet(self.pages_dir).where(
            F.col("page_id") < self.BASE_PAGES
        )

    def batch_pages(self, ids):
        return self.spark.read.parquet(self.pages_dir).where(F.col("page_id").isin(ids))

    def _copy(self, store_dir: str) -> str:
        path = self.b.fresh("store")
        shutil.copytree(store_dir, path)
        return path

    def build(self, traced: bool = False) -> float:
        """Base pages -> build_triples into an empty store -> entailed
        KG; returns the wall seconds."""
        from recon_spark.triples import build_triples

        spark = self.spark
        store_dir, kg_dir = self.b.fresh("store"), self.b.fresh("kg")
        t0 = time.perf_counter()
        self._describe(traced, "traced:build")
        build_triples(spark, self.base_pages(), store_dir, n_parts=N_PARTS)
        self._describe(traced, "traced:reasoning")
        _entail_and_write(spark, store_dir, kg_dir)
        return time.perf_counter() - t0

    def prepare(self) -> None:
        from recon_spark.triples import build_triples

        spark = self.spark
        self.store_dir = self.b.path("store")
        m, build_s = _timed(
            build_triples, spark, self.base_pages(), self.store_dir, n_parts=N_PARTS
        )
        store_bytes = dir_bytes(_snapshot_dir(_store(spark, self.store_dir)))
        self.report["build_pages_per_s"] = self.BASE_PAGES / build_s
        self.kg_dir = self.b.path("kg")
        _entail_and_write(spark, self.store_dir, self.kg_dir)
        self.reopen()
        degree = (
            self.graphs["kg"].where(F.col("pred") != "type")
            .groupBy("subj").agg(F.count(F.lit(1)).alias("n"))
            .orderBy("subj").collect()
        )
        self.rounds = sparql_mix.draw_rounds(
            self.seed, self.ROUNDS, [(r["subj"], r["n"]) for r in degree]
        )
        self.store_bytes_per_row = store_bytes / max(m["total_triples"], 1)
        self.sizes.update(
            {
                "triples": m["total_triples"],
                "store_bytes": store_bytes,
                "kg_rows": _rows(self.graphs["kg"]),
                "quad_rows": _rows(self.graphs["quads"]),
                "templates": len(sparql_mix.TEMPLATES),
            }
        )
        self.per_template: dict[str, list[tuple[float, float, float]]] = {}
        self.n_rounds = 0
        self.rows_out: dict[str, int] = {}
        self.check_answers()  # also the warm-up: every template runs once

    def reopen(self) -> None:
        self.graphs = {
            "kg": self.spark.read.parquet(self.kg_dir),
            # the quad table: store rows, the source page as graph
            "quads": _store(self.spark, self.store_dir).read().select(
                "subj", "pred", "obj", F.col("url").alias("graph")
            ),
        }

    def _run(self, q, traced: bool) -> tuple[float, float, float]:
        from recon_spark.operators.sparql import compile_sparql, parse_sparql

        parse_s = 0.0
        if traced:
            self.b.describe("sparql:" + q.template)
            parse_s = _timed(parse_sparql, q.sparql)[1]
        df, compile_s = _timed(compile_sparql, self.graphs[q.graph], q.sparql)
        exec_s = _timed(noop, df)[1]
        return parse_s, compile_s, exec_s

    def op(self, i: int, traced: bool) -> int:
        """One round: every template once, in the round's drawn order."""
        if i >= len(self.rounds):
            raise RuntimeError(f"query sequence exhausted after {len(self.rounds)} rounds")
        for q in self.rounds[i]:
            c0 = cpu_seconds(self.b.jvm_pid)
            timing = self._run(q, traced)
            cpu = cpu_seconds(self.b.jvm_pid) - c0
            self.samples.append((q.template, timing[1] + timing[2], cpu))
            if traced:
                self.per_template.setdefault(q.template, []).append(timing)
        self.n_rounds += 1
        return len(self.rounds[i])

    def finish(self) -> None:
        self.sizes["queries_run"] = self.n_rounds * len(sparql_mix.TEMPLATES)
        by_template: dict[str, list[float]] = {}
        for t, x, _cpu in self.samples:
            by_template.setdefault(t, []).append(x * 1e3)
        for t, xs in sorted(by_template.items()):
            self.report[f"{t}_ms"] = median(xs)

    def check_answers(self) -> None:
        """Every query of the first round against its DuckDB twin over
        the same parquet (rows compared as multisets)."""
        import duckdb

        from recon_spark.operators.sparql import compile_sparql

        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW kg AS SELECT subj, pred, obj FROM read_parquet("
                f"'{self.kg_dir}/*/*.parquet', hive_partitioning = true)"
            )
            snap = _snapshot_dir(_store(self.spark, self.store_dir))
            con.execute(
                "CREATE VIEW quads AS SELECT subj, pred, obj, url AS graph "
                f"FROM read_parquet('{snap}/*.parquet')"
            )
            for q in self.rounds[0]:
                got = Counter(
                    tuple(r) for r in compile_sparql(self.graphs[q.graph], q.sparql).collect()
                )
                want = Counter(tuple(r) for r in con.execute(q.sql).fetchall())
                self.rows_out[q.template] = sum(got.values())
                self.expect(
                    f"sparql_vs_duckdb[{q.template}]", got == want,
                    f"{sum(got.values())} vs {sum(want.values())} rows: {q.sparql}",
                )
        finally:
            con.close()

    def check(self) -> None:
        """The stored triples of sampled pages against the reference
        extractor and the entailed KG against DuckDB's closure (query
        answers were checked in set-up)."""
        spark = self.spark
        sample = random.Random(self.seed).sample(range(self.BASE_PAGES), CHECK_SAMPLE)
        want = _ref_triples(sample, self.seed)
        got = _stored_triples(_store(spark, self.store_dir).read(), {t[0] for t in want})
        self.expect("triples_vs_reference", got == want, f"{len(got)} vs {len(want)}")
        self.expect("entailment_vs_duckdb", _entailed_matches(spark, self.store_dir, self.kg_dir))

    def layers(self) -> dict[str, float]:
        from recon_spark.triples import build_triples

        out: dict[str, float] = {}
        parse, comp, exe = [], [], []
        path_compile = path_total = 0.0
        rows = []
        for t in sorted(sparql_mix.TEMPLATES):
            runs = self.per_template.get(t, [])
            if not runs:
                continue
            c = [(r[1] - r[0]) * 1e3 for r in runs]
            e = [r[2] * 1e3 for r in runs]
            parse += [r[0] * 1e3 for r in runs]
            comp += c
            exe += e
            if t in sparql_mix.PATH_TEMPLATES:
                path_compile += sum(r[1] for r in runs)
                path_total += sum(r[1] + r[2] for r in runs)
            n = self.rows_out[t]  # first-round answer, counted by the set-up check
            rows.append(n)
            out[f"sparql.{t}.compile_ms"] = median(c)
            out[f"sparql.{t}.exec_ms"] = median(e)
            out[f"sparql.{t}.rows_out"] = n
        out.update(
            {
                "sparql.parse_ms": median(parse),
                "sparql.compile_ms": median(comp),
                "sparql.exec_ms": median(exe),
                "sparql.rows_out": median(rows),
                "sparql.path_compile_share": path_compile / path_total if path_total else 0.0,
            }
        )
        self.b.describe("prefix:storage.read")
        out["storage.read_s"] = _timed(noop, self.graphs["kg"])[1] + _timed(
            noop, self.graphs["quads"]
        )[1]

        # the set-up, traced: layer self times of the base build ...
        spark = self.spark
        build, m, store_dir, frames = pipeline_layers(
            self.b, self.base_pages(), lambda: self.b.fresh("store"), "storage.build_s"
        )
        ent_dir = self.b.fresh("kg")
        self.b.describe("prefix:reasoning")
        build["reasoning.entail_s"] = _timed(_entail_and_write, spark, store_dir, ent_dir)[1]
        self.build_self_sum = sum(build.values())
        self.build_wall = self.build(traced=True)
        # ... and of the increment: new pages mixed with re-crawled ones,
        # MERGEd into a copy of the set-up store
        merge, m_merge, merged_dir, _ = pipeline_layers(
            self.b, self.batch_pages(self.batch_ids), lambda: self._copy(self.store_dir),
            "storage.merge_s",
        )
        self.b.describe(None)
        expected = len(_ref_triples(self.new_ids, self.seed))
        self.expect(
            "merge_lineage",
            m_merge["added"] == expected and m_merge["removed"] == 0
            and m_merge["changed"] == 0,
            f"added={m_merge['added']} expected={expected}",
        )
        # T(build_triples call) = sum of its prefix-difference self times
        self.report["increment_pages_per_s"] = len(self.batch_ids) / sum(merge.values())
        # re-crawled pages alone must add nothing
        m_re = build_triples(
            spark, self.batch_pages(self.recrawl_ids), self._copy(merged_dir), n_parts=N_PARTS
        )
        self.expect(
            "recrawl_adds_nothing",
            m_re["added"] == 0 and m_re["removed"] == 0 and m_re["changed"] == 0,
            f"added={m_re['added']}",
        )
        written = dir_bytes(_snapshot_dir(_store(spark, merged_dir)))
        base = dir_bytes(_snapshot_dir(_store(spark, self.store_dir)))
        self.report["merge_write_amp"] = written / max(written - base, 1)
        out.update({k: v for k, v in build.items() if k != "storage.read_s"})
        out.update(row_flow(spark, frames, self.BASE_PAGES))
        out.update(
            {
                "storage.merge_s": merge["storage.merge_s"],
                "storage.bytes_written": written,
                "storage.rows_written": m_merge["total_triples"],
                "storage.rows_added": m_merge["added"],
                "storage.bytes_per_triple": base / max(m["total_triples"], 1),
                "storage.write_amp": written / max(written - base, 1),
                "reasoning.rows_in": m["total_triples"],
                "reasoning.rows_out": _rows(spark.read.parquet(ent_dir)),
            }
        )
        return out


# --------------------------------------------------------------------------
# recon_audit
# --------------------------------------------------------------------------

class ReconAudit(Workload):
    """Recon's span-debugging loop over the pages: prediction errors and
    hardest examples over the fused gold+model pass; coverage, derived
    label corrections, corrected spans committed as a snapshot."""

    name = "recon_audit"
    item = "docs"
    N_DOCS = 400

    def generate(self) -> None:
        self.pages_dir = self.b.path("pages")
        self._write_pages(self.N_DOCS, self.pages_dir)

    def docs(self):
        return self.spark.read.parquet(self.pages_dir).select(
            F.col("page_id").alias("doc_id"), "text"
        )

    def prepare(self) -> None:
        self.steps: dict[str, list[float]] = {}
        self.audit(self.docs(), traced=False)  # warm-up

    def reopen(self) -> None:
        from recon_spark.operators.extraction import detect_mentions_both

        noop(detect_mentions_both(self.docs().limit(10)))  # start Python workers

    def audit(self, docs, traced: bool) -> dict[str, float]:
        from recon_spark.operators import corrections, insights, stats
        from recon_spark.operators.extraction import detect_mentions_both, detect_mentions_long

        t: dict[str, float] = {}
        both = detect_mentions_both(docs)
        self._describe(traced, "insights.prediction_errors")
        t["insights.prediction_errors_s"] = _timed(
            noop, insights.prediction_errors_colocated(both)
        )[1]
        self._describe(traced, "insights.hardest_examples")
        t["insights.hardest_examples_s"] = _timed(
            lambda: noop(insights.hardest_examples_colocated(both))
        )[1]
        long = detect_mentions_long(docs)
        self._describe(traced, "stats.entity_coverage")
        t["stats.entity_coverage_s"] = _timed(
            noop, stats.entity_coverage(long, salted=True)
        )[1]
        self._describe(traced, "insights.label_corrections")
        rules, t["insights.label_corrections_s"] = _timed(
            lambda: [
                (r["annotation"], ["ANY"], r["to_label"])
                for r in insights.most_common_label_corrections(long).collect()
            ]
        )
        # fix_annotations is lazy: its cost lands in the snapshot write
        fixed = corrections.fix_annotations(both.select("doc_id", "text", "spans"), rules)
        keyed = fixed.withColumn("content_hash", F.xxhash64(F.to_json("spans")))
        store = _store(self.spark, self.b.fresh("audit_store"), key_col="doc_id")
        self._describe(traced, "corrections.fix_annotations")
        res, t["corrections.fix_annotations_s"] = _timed(
            store.write_snapshot, keyed, "recon.fix_annotations.v1"
        )
        self.last = (res, rules, store)
        return t

    def op(self, i: int, traced: bool) -> int:
        c0, t0 = cpu_seconds(self.b.jvm_pid), time.perf_counter()
        t = self.audit(self.docs(), traced)
        cpu = cpu_seconds(self.b.jvm_pid) - c0
        self.samples.append(("audit", time.perf_counter() - t0, cpu))
        res, rules, _ = self.last
        self.expect(
            "audit_snapshot_lineage",
            res.added == self.N_DOCS and res.removed == 0 and len(rules) > 0,
            f"added={res.added} rules={len(rules)}",
        )
        if traced:
            for k, v in t.items():
                self.steps.setdefault(k, []).append(v)
        return self.N_DOCS

    def finish(self) -> None:
        res, rules, store = self.last
        self.sizes["corrections"] = len(rules)
        self.sizes["snapshot_bytes"] = dir_bytes(_snapshot_dir(store))
        self.store_bytes_per_row = self.sizes["snapshot_bytes"] / max(res.added, 1)

    def check(self) -> None:
        """Per-document mention counts on a sample against the reference
        scanner; no corrected surface keeps more than one label."""
        from recon_spark.operators.extraction import detect_mentions_long
        from recon_spark.pages import page_content
        from tests.reference_impl import ref_mentions

        sample = random.Random(self.seed).sample(range(self.N_DOCS), CHECK_SAMPLE)
        got = {
            r["doc_id"]: r["n"]
            for r in detect_mentions_long(self.docs().where(F.col("doc_id").isin(sample)))
            .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        want = {}
        for pid in sample:
            n = len(ref_mentions(pid, page_content(pid, self.seed)[3]))
            if n:
                want[pid] = n
        self.expect("mention_counts_vs_reference", got == want, f"{len(got)} docs")
        multi = (
            self.last[2].read()
            .select(F.explode("spans").alias("s"))
            .groupBy(F.lower("s.text").alias("surface"))
            .agg(F.countDistinct("s.label").alias("n"))
            .where("n > 1")
            .collect()
        )
        self.expect("corrections_resolve_disagreements", not multi, str(multi[:3]))

    def layers(self) -> dict[str, float]:
        from recon_spark.operators.extraction import detect_mentions_both, detect_mentions_long

        out = {k: median(v) for k, v in self.steps.items()}
        docs = self.docs()
        self.b.describe("prefix:extraction")
        out["extraction.s"] = _timed(noop, detect_mentions_both(docs))[1]
        self.b.describe(None)
        out["extraction.mentions_per_page"] = _rows(detect_mentions_long(docs)) / self.N_DOCS
        res, _rules, store = self.last
        out["storage.bytes_written"] = dir_bytes(os.path.join(store.base, f"snap_{res.snapshot_id}"))
        out["storage.rows_written"] = out["storage.rows_added"] = res.added
        return out


WORKLOADS = {w.name: w for w in (KgQuery, ReconAudit)}
