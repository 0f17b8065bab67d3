"""The benchmark's workloads. Each one writes (or names) its inputs, lists
the operations of one pass, checks every operation's output after the
timed passes, and in a traced run measures its layers standalone.

Inputs come only from the seed; the program sees only the tables.
"""

from __future__ import annotations

import shutil
import time
from pathlib import Path

import leaves
from harness import dir_size, median

def _timed(tracer, name, fn):
    """(result, seconds) of ``fn()``, inside a span named ``name``; the
    time excludes the span's own counter reads."""
    with tracer.span(name):
        t = time.perf_counter()
        out = fn()
        return out, time.perf_counter() - t


def _close(a, b, rel=1e-9):
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and (
            abs(a - b) <= rel * max(abs(a), abs(b), 1e-300))
    return a == b


class _Generated:
    """A workload over tables written from a seeded ``GeneratorConfig``."""

    items: int
    warm_passes = 2

    def __init__(self, spark, work: Path, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.layers: dict = {}

    def setup(self, tracer) -> list[float]:
        self.inputs = self.work / "inputs"
        _, dt = _timed(tracer, "generator.write",
                       lambda: self._write(self.inputs))
        self.layers["generator.bytes"] = dir_size(self.inputs)[1]
        self.layers["generator.write_s"] = dt
        self._read()
        return [dt]

    def _schema_and_validation(self, tracer, docs, spec):
        """Trace-only standalone calls into the schema and validation
        layers (the second of two calls, so plans are warm)."""
        from schematic_spark.compiler import compile_regex_preflight
        from schematic_spark.schema import dump_spec, parse_spec, verify_schema
        from schematic_spark.validation import validate

        def compile_spec():
            schema = parse_spec(dump_spec(spec))
            verify_schema(schema)
            compile_regex_preflight(schema)

        self.layers["schema.compile_s"] = median(
            [_timed(tracer, "schema.compile", compile_spec)[1]
             for _ in range(5)])
        for _ in range(2):
            res, build = _timed(tracer, "validation.build",
                                lambda: validate(docs, spec))
            noop = _timed(tracer, "validation.noop", lambda: res.annotated
                          .write.format("noop").mode("overwrite").save())[1]
            vnoop = _timed(tracer, "validation.violations_noop", lambda: (
                res.violations("doc_id").write.format("noop")
                .mode("overwrite").save()))[1]
        self.layers.update({
            "validation.build_s": build,
            "validation.noop_s": noop,
            "validation.violations_noop_s": vnoop,
        })


class SuiteMostlyValid(_Generated):
    """``run_fused_suite`` over seeded interleaved documents, a baseline
    snapshot and a media dimension, at the generator's default rates."""

    N_DOCS = 50_000
    N_MEDIA = 10_000
    items = N_DOCS
    warm_passes = 4

    def _write(self, out: Path):
        from schematic_spark.generator import (
            GeneratorConfig, interleaved_documents, media_dim,
        )

        parts = 4 * self.spark.sparkContext.defaultParallelism
        for name, seed in (("docs", self.seed), ("base", self.seed + 7919)):
            cfg = GeneratorConfig(n_docs=self.N_DOCS, seed=seed,
                                  n_media=self.N_MEDIA)
            interleaved_documents(self.spark, cfg).repartition(parts) \
                .write.parquet(str(out / name))
        media_dim(self.spark, self.N_MEDIA).repartition(1) \
            .write.parquet(str(out / "media"))

    def _read(self):
        r = self.spark.read.parquet
        self.docs = r(str(self.inputs / "docs"))
        self.base = r(str(self.inputs / "base"))
        self.media = r(str(self.inputs / "media"))

    def ops(self, label: str):
        from schematic_spark.generator import INTERLEAVED_SPEC
        from schematic_spark.suite import run_fused_suite

        return [("suite.fused", lambda: run_fused_suite(
            self.docs, self.base, self.media, INTERLEAVED_SPEC,
            kind_values=("text", "media", "bogus"),
            ks_lo=0, ks_hi=16, ks_buckets=16, salt_buckets=64,
        ))]

    def reference(self, tracer):
        """The classic one-job-per-check suite; in a traced run, the
        second of two rounds also gives the standalone layer times."""
        from pyspark.sql import functions as F

        from schematic_spark.generator import (
            INTERLEAVED_SPEC, exploded_spans, non_monotonic_docs,
        )
        from schematic_spark.suite import (
            chi2_drift, column_stats, dangling_rows, duplicate_keys_salted,
            ks_drift,
        )
        from schematic_spark.validation import validate

        docs, base = self.docs, self.base
        refs = exploded_spans(docs).where(F.col("media_ref").isNotNull())
        ref, t = {}, {}
        for _ in range(2 if tracer.enabled else 1):
            ref["summary"], t["validation"] = _timed(
                tracer, "validation.summary", lambda: validate(
                    docs, INTERLEAVED_SPEC).summary().collect())
            ref["stats"], t["stats"] = _timed(
                tracer, "suite.stats",
                lambda: column_stats(docs).collect())
            ref["dups"], t["uniqueness"] = _timed(
                tracer, "suite.uniqueness", lambda: duplicate_keys_salted(
                    docs, "doc_id", salt_buckets=64).count())
            ref["dangling"], t["referential"] = _timed(
                tracer, "suite.referential", lambda: dangling_rows(
                    refs, self.media, "media_ref", broadcast=True).count())

            def drift():
                n = F.size("spans").alias("n")
                ks = ks_drift(docs.select(n), base.select(n), "n",
                              lo=0, hi=16, n_buckets=16)
                chi = chi2_drift(exploded_spans(docs).select("kind"),
                                 exploded_spans(base).select("kind"), "kind")
                return ks.statistic, chi.statistic

            ref["drift"], t["drift"] = _timed(tracer, "suite.drift", drift)
            ref["nonmono"] = non_monotonic_docs(docs).count()
        self.ref = ref
        if not tracer.enabled:
            return
        uniq = _last_span(tracer, "suite.uniqueness")
        rows = {r["verdict"]: r for r in ref["summary"]}
        self.layers.update({
            "suite.stats.s": t["stats"],
            "suite.uniqueness.s": t["uniqueness"],
            "suite.uniqueness.shuffle_write_bytes":
                uniq["shuffle_write_bytes"],
            "suite.uniqueness.task_skew": uniq["task_skew_max"],
            "suite.referential.s": t["referential"],
            "suite.referential.dangling_share":
                ref["dangling"] / max(refs.count(), 1),
            "suite.drift.s": t["drift"],
            "validation.valid_share":
                rows["Valid"]["n_rows"] / self.N_DOCS,
            "validation.violations_per_row": sum(
                r["n_violations"] for r in rows.values()) / self.N_DOCS,
        })
        self._schema_and_validation(tracer, docs, INTERLEAVED_SPEC)

    def check(self, name, rep) -> str | None:
        ref = self.ref
        want_verdicts = {r["verdict"]: r["n_rows"] for r in ref["summary"]}
        want = {
            "verdicts": want_verdicts,
            "n_violations": sum(r["n_violations"] for r in ref["summary"]),
            "n_dup_keys": ref["dups"],
            "n_dangling": ref["dangling"],
            "n_non_monotonic": ref["nonmono"],
        }
        got = {k: getattr(rep, k) for k in want}
        bad = [k for k in want if got[k] != want[k]]
        ks, chi = ref["drift"]
        if not _close(rep.ks.statistic, ks):
            bad.append("ks")
        if not _close(rep.chi2.statistic, chi):
            bad.append("chi2")
        classic = {r["column"]: r.asDict() for r in ref["stats"]}
        fused = {r["column"]: r for r in rep.column_stats}
        if set(classic) != set(fused) or any(
                not _close(fused[c][k], v)
                for c, row in classic.items() for k, v in row.items()):
            bad.append("column_stats")
        return f"fused suite differs from the classic checks: {bad}" \
            if bad else None

    def pass_layers(self, tracer, label: str, outputs: list):
        rep = outputs[0]
        if rep is None or not tracer.enabled:
            return
        wall = _last_span(tracer, "suite.fused")
        timings = rep.timings
        self.layers.setdefault("fused", []).append({
            "suite.fused.fact_s": timings["fact_rowlocal_uniqueness"],
            "suite.fused.spans_s": timings["spans_referential"],
            "suite.fused.baseline_s": timings["baseline_drift"],
            "suite.fused.overlap":
                sum(timings.values()) / (wall["end"] - wall["start"]),
        })


class CheckpointInvalidHeavy(_Generated):
    """Checkpointed validation of invalid-heavy documents into a fresh
    ``ParquetDirFormat`` directory, a resume call, and the read-back."""

    N_DOCS = 25_000
    N_BUCKETS = 8
    items = N_DOCS

    def _write(self, out: Path):
        from schematic_spark.generator import (
            GeneratorConfig, interleaved_documents,
        )

        cfg = GeneratorConfig(
            n_docs=self.N_DOCS, seed=self.seed, n_media=10_000,
            bad_kind_rate_millis=200, empty_text_rate_millis=200,
            dangling_rate_millis=200, oversized_rate_millis=100,
        )
        parts = 4 * self.spark.sparkContext.defaultParallelism
        interleaved_documents(self.spark, cfg).repartition(parts) \
            .write.parquet(str(out / "docs"))

    def _read(self):
        self.docs = self.spark.read.parquet(str(self.inputs / "docs"))

    def ops(self, label: str):
        from pyspark.sql import functions as F

        from schematic_spark.generator import INTERLEAVED_SPEC
        from schematic_spark.sources import ParquetDirFormat
        from schematic_spark.sources.checkpoint import (
            partition_passfail, read_violations, run_validation_checkpointed,
        )

        self.root = self.work / "checkpoint" / label
        fmt = ParquetDirFormat(str(self.root))

        def run():
            return run_validation_checkpointed(
                self.spark, self.docs, INTERLEAVED_SPEC, fmt,
                key_col="doc_id", n_buckets=self.N_BUCKETS,
                run_id=f"bench-{label}", input_snapshot=f"seed-{self.seed}",
                commit_every=4)

        def read():
            pf = partition_passfail(self.spark, fmt).agg(
                F.count(F.lit(1)).alias("n_buckets"),
                F.sum("n_rows").alias("n_rows"),
                F.sum("n_bad_rows").alias("n_bad_rows"),
                F.sum("n_violations").alias("n_violations"),
            ).collect()[0].asDict()
            pf["violation_rows"] = read_violations(self.spark, fmt).count()
            return pf

        return [("checkpoint.run", run), ("checkpoint.resume", run),
                ("checkpoint.read", read)]

    def reference(self, tracer):
        from schematic_spark.generator import INTERLEAVED_SPEC
        from schematic_spark.validation import validate

        rows = _timed(tracer, "validation.summary", lambda: validate(
            self.docs, INTERLEAVED_SPEC).summary().collect())[0]
        self.ref = {r["verdict"]: (r["n_rows"], r["n_violations"])
                    for r in rows}
        if not tracer.enabled:
            return
        n_viol = sum(v for _, v in self.ref.values())
        self.layers.update({
            "validation.valid_share": self.ref["Valid"][0] / self.N_DOCS,
            "validation.violations_per_row": n_viol / self.N_DOCS,
        })
        self._schema_and_validation(tracer, self.docs, INTERLEAVED_SPEC)

    def check(self, name, out) -> str | None:
        every = list(range(self.N_BUCKETS))
        if name == "checkpoint.run":
            totals = {v: n for v, (n, _) in self.ref.items()}
            ok = out["processed_buckets"] == every \
                and out["totals"] == totals
        elif name == "checkpoint.resume":
            ok = out["processed_buckets"] == [] \
                and out["skipped_buckets"] == every
        else:
            n_viol = sum(v for _, v in self.ref.values())
            ok = out == {
                "n_buckets": self.N_BUCKETS,
                "n_rows": self.N_DOCS,
                "n_bad_rows": self.N_DOCS - self.ref["Valid"][0],
                "n_violations": n_viol,
                "violation_rows": n_viol,
            }
        return None if ok else f"{name} output differs from validate(): {out}"

    def pass_layers(self, tracer, label: str, outputs: list):
        if tracer.enabled:
            files, size = dir_size(self.root)
            run = _last_span(tracer, "checkpoint.run")
            self.layers.setdefault("checkpoint", []).append({
                "checkpoint.jobs": run["jobs"],
                "checkpoint.files_written": files,
                "checkpoint.bytes": size,
            })
        shutil.rmtree(self.root, ignore_errors=True)


class Leaves:
    """``__spark_entry__.queries()`` leaves over the fixed sf0.001 tables
    in ``perfbench/data``, each result checked against its digest."""

    # sub-second leaves are the noisiest operations: take each one's
    # fastest of three warm runs
    warm_passes = 3

    def __init__(self, spark, work: Path, names: list[str]):
        import json

        import __spark_entry__ as entry

        # leaves that dump generated tables write them under the work dir
        entry._ORACLE_TMP = str(work / "oracle")
        self.spark, self.names = spark, names
        self.queries = entry.queries()
        self.digests = json.loads(leaves.DIGESTS.read_text())
        self.data = str(leaves.DATA_DIR)
        self.items = len(names)
        self.layers: dict = {}

    def setup(self, tracer) -> list[float]:
        return []

    def ops(self, label: str):
        def leaf(name):
            df = self.queries[name](self.spark, self.data)
            return df.columns, df.collect()

        return [(f"leaf.{n}", lambda n=n: leaf(n)) for n in self.names]

    def reference(self, tracer):
        pass

    def check(self, name, out) -> str | None:
        leaf = name.removeprefix("leaf.")
        got = leaves.digest(*out)
        want = self.digests.get(leaf)
        return None if got == want else \
            f"{leaf}: result digest {got} != recorded {want}"

    def pass_layers(self, tracer, label: str, outputs: list):
        pass


def _last_span(tracer, name: str) -> dict:
    return next(s for s in reversed(tracer.spans) if s["name"] == name)
