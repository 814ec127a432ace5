"""The two workloads: set-up, the timed unit of work, and the checks.

Every call into an engine layer goes through ``tr.call`` (or an explicit
``tr.span``), so a traced run attributes time and Spark work to layers
without touching the engine. In a traced run the units alternate
between untraced and traced; the per-layer numbers come from the traced
units, the tracing overhead from the difference of the two medians.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys
import time
import traceback

import gen
import procs
import release as rel
from spans import NullTracer, SparkTracer

END_TO_END = ("setup_s", "wall_s", "peak_rss_mb")

PER_LAYER = (
    "session.start_s",
    "sources.delim_s", "sources.xlsx_s", "sources.json_s", "sources.rows_per_s",
    "sinks.write_s", "sinks.bytes_written", "sinks.files_written",
    "gene_pipeline.build_s", "gene_pipeline.slowest_table_s",
    "plan.optimize_ms", "plan.physical_ms",
    "plan.exchanges", "plan.bhj", "plan.smj",
    "harmonize.rows_out", "harmonize.fanout", "harmonize.cdc_apply_s",
    "text.filter_s", "text.kept_frac",
    "dedup.busy_s", "dedup.lsh_candidates", "dedup.confirmed_pairs", "dedup.confirm_ratio",
    "engine.sql_ms", "engine.exec_ms", "catalog.cached_scan_frac",
    "executor.run_ms", "executor.cpu_ms", "executor.gc_ms", "executor.busy_frac",
    "shuffle.read_bytes", "shuffle.write_bytes", "spill.disk_bytes",
    "jobs.count", "stages.count", "tasks.count", "tasks.failed",
    "trace.overhead_s",
)
UNITS = {
    "_s": "s", "_ms": "ms", "frac": "ratio", "fanout": "ratio",
    "ratio": "ratio", "rows_per_s": "1/s",
}


def tail_percentile(samples: list[float], min_beyond: int = 10):
    """Highest percentile with at least ``min_beyond`` samples above it.

    Returns ``(p, value)`` with ``p`` from the ladder 99.9/99/98/95/90/75/50
    and ``value`` the nearest-rank sample at ``p``; ``None`` when even the
    median has fewer than ``min_beyond`` samples beyond it.
    """
    xs = sorted(samples)
    n = len(xs)
    for p in (99.9, 99.0, 98.0, 95.0, 90.0, 75.0, 50.0):
        rank = max(1, math.ceil(p * n / 100))  # nearest rank
        if n - rank >= min_beyond:
            return p, xs[rank - 1]
    return None


def unit_of(name: str) -> str:
    if "bytes" in name:
        return "bytes"
    for suffix, unit in sorted(UNITS.items(), key=lambda kv: -len(kv[0])):
        if name.endswith(suffix):
            return unit
    return "count"


class Workload:
    app = "perfbench"

    def __init__(self, inputs, truth, out_dir, trace):
        self.inputs, self.truth, self.out = inputs, truth, out_dir
        self.trace = trace
        self.walls: list[float] = []          # untraced units
        self.cpus: list[float] = []           # their process-tree CPU seconds
        self.traced_walls: list[float] = []
        self.tracers: list[SparkTracer] = []
        self.errors: list[str] = []
        self.units = 0
        self.session_s = None
        self.span_file = os.path.join(out_dir, "spans.jsonl")

    # -- lifecycle ---------------------------------------------------------
    def start_session(self):
        from gene_level_metadata_pipeline_spark.session import get_spark

        t = time.perf_counter()
        spark = get_spark(self.app)
        spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t
        self.spark = spark
        return spark

    def run_op(self):
        traced = self.trace and self.units % 2 == 1
        tr = SparkTracer(self.spark) if traced else NullTracer()
        cpu = procs.tree_cpu_s()
        t = time.perf_counter()
        try:
            with tr.span(self.name, "unit", op=self.units):
                self.unit(tr)
        except Exception:  # noqa: BLE001 — a failed unit is counted, the run goes on
            self.errors.append(traceback.format_exc(limit=3))
            print(self.errors[-1], flush=True, file=sys.stderr)
        wall = time.perf_counter() - t
        (self.traced_walls if traced else self.walls).append(wall)
        if not traced:
            self.cpus.append(procs.tree_cpu_s() - cpu)
        if traced:
            self.tracers.append(tr)
        self.units += 1

    def enough(self) -> bool:
        return len(self.walls) >= 1 and (not self.trace or len(self.traced_walls) >= 1)

    def attempted(self) -> int:
        return self.units

    def failed(self, mismatches) -> int:
        return min(self.units, len(self.errors) + (1 if mismatches else 0))

    def end_to_end(self) -> dict:
        return {"wall_s": (statistics.median(self.walls), "s"),
                "units": (len(self.walls), "count")}

    def notes(self) -> dict:
        return {"errors": self.errors[:3], "unit_walls_s": self.walls,
                "unit_cpu_s": self.cpus}

    # -- traced-run aggregation -------------------------------------------
    def layer_metrics(self) -> dict:
        n = max(1, len(self.tracers))
        every = [sp for tr in self.tracers for sp in tr.spans]
        selft = {}
        for tr in self.tracers:
            selft.update(tr.self_times())
        with open(self.span_file, "w") as f:
            for sp in every:
                f.write(json.dumps(dict(sp, self_s=selft[sp["id"]])) + "\n")
        # probe spans count rows for the ratios; keep their work out of the totals
        spans = [sp for sp in every if sp["layer"] != "probe"]
        probe_s = sum(sp["end"] - sp["start"] for sp in every if sp["layer"] == "probe")

        def layer_sum(prefix, key=None):
            tot = 0.0
            for sp in spans:
                if sp["layer"] == prefix or sp["layer"].startswith(prefix + "."):
                    tot += selft[sp["id"]] if key is None else sp.get(key, 0)
            return tot

        def total(key):
            return sum(sp.get(key, 0) for sp in spans)

        units = [sp for sp in spans if sp["layer"] == "unit"]
        unit_wall = sum(sp["end"] - sp["start"] for sp in units) - probe_s
        m = {k: 0.0 for k in PER_LAYER}
        m["session.start_s"] = self.session_s
        m["sources.delim_s"] = layer_sum("sources.delim") / n
        m["sources.xlsx_s"] = layer_sum("sources.xlsx") / n
        m["sources.json_s"] = layer_sum("sources.json") / n
        src_s = layer_sum("sources")
        m["sources.rows_per_s"] = layer_sum("sources", "input.records") / src_s if src_s else 0.0
        m["sinks.write_s"] = layer_sum("sinks") / n
        m["sinks.bytes_written"] = layer_sum("sinks", "output.bytes") / n
        m["sinks.files_written"] = sum(sp.get("files", 0) for sp in spans) / n
        gp = [sp for sp in spans if sp["layer"] == "gene_pipeline"]
        m["gene_pipeline.build_s"] = layer_sum("gene_pipeline") / n
        m["gene_pipeline.slowest_table_s"] = max(
            (sp["end"] - sp["start"] for sp in gp), default=0.0)
        for k in ("plan.optimize_ms", "plan.physical_ms", "plan.exchanges", "plan.bhj",
                  "plan.smj", "shuffle.read_bytes", "shuffle.write_bytes",
                  "spill.disk_bytes", "jobs.count", "stages.count", "tasks.count",
                  "tasks.failed", "executor.run_ms", "executor.gc_ms"):
            m[k] = total(k) / n
        m["executor.cpu_ms"] = total("executor.cpu_ns") / 1e6 / n
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
        m["executor.busy_frac"] = (total("executor.run_ms") / 1e3 / (unit_wall * cores)
                                   if unit_wall else 0.0)
        for tr in self.tracers:
            for k, v in tr.counters.items():
                if k in m:
                    m[k] += v / n
        self.derive(m, spans, selft, n)
        if self.walls and self.traced_walls:
            m["trace.overhead_s"] = (statistics.median(self.traced_walls)
                                     - statistics.median(self.walls))
        return {k: (float(m[k]), unit_of(k)) for k in PER_LAYER}

    def derive(self, m, spans, selft, n):
        pass


# ---------------------------------------------------------------------------
# corpus_curation
# ---------------------------------------------------------------------------


class CorpusCuration(Workload):
    name = "corpus_curation"

    def setup(self):
        spark = self.start_session()
        self.corpus = os.path.join(self.inputs, "corpus.parquet")
        for _ in range(3):  # pass times keep falling through the third
            self.curate(NullTracer(), "warmup")
        return spark

    def curate(self, tr, tag):
        """Quality filter -> bronze Parquet, then exact and near-duplicate
        removal -> curated Parquet (plus the confirmed pairs)."""
        from pyspark.sql import functions as F

        from gene_level_metadata_pipeline_spark.operators import dedup as D
        from gene_level_metadata_pipeline_spark.operators import textanalysis as T
        from gene_level_metadata_pipeline_spark.sources import sinks as S

        out = os.path.join(self.out, f"curated-{tag}")
        read = self.spark.read.parquet
        docs = tr.call("sources.parquet", read, self.corpus)
        clean = tr.call("operators.textanalysis", T.c4_clean, docs, "text", "doc_id")
        clean = clean.where(F.col("clean_text").isNotNull())
        flags = tr.call("operators.textanalysis", T.gopher_quality_flags,
                        clean, "clean_text", "doc_id")
        kept = clean.join(flags.where("gopher_ok").select("doc_id"), "doc_id")
        kept_path = tr.call("sinks", S.write_bronze, kept.select("doc_id", "clean_text"),
                            out, "quality_filtered")
        kept = read(kept_path)
        exact = tr.call("operators.dedup", D.dedup_exact, kept, "clean_text", "doc_id")
        uniq = kept.join(exact.select(F.col("canonical_id").alias("doc_id")), "doc_id")
        pairs = tr.call("operators.dedup", D.near_dup_pairs, uniq, "clean_text", "doc_id")
        pairs_path = tr.call("sinks", S.write_bronze, pairs, out, "near_dup_pairs")
        drop = read(pairs_path).select(F.col("doc_b").alias("doc_id"))
        curated = uniq.join(drop, "doc_id", "left_anti")
        tr.call("sinks", S.write_bronze, curated, out, "curated")
        if tr.enabled:  # counts for the ratios, outside the layer spans
            with tr.span("probe", "probe"):
                tr.add("text.kept_frac", kept.count() / docs.count())
                cands = D.near_dup_pairs(uniq, "clean_text", "doc_id", confirm=None).count()
                conf = read(pairs_path).count()
                tr.add("dedup.lsh_candidates", cands)
                tr.add("dedup.confirmed_pairs", conf)
                tr.add("dedup.confirm_ratio", conf / cands if cands else 0.0)
        return out

    def unit(self, tr):
        self.last_out = self.curate(tr, "timed")

    def check(self):
        import checks

        self.quality = checks.check_curation(self.inputs, self.truth, self.last_out)
        return self.quality.pop("mismatches")

    def notes(self):
        return dict(super().notes(), **self.quality)

    def end_to_end(self):
        e = super().end_to_end()
        e["dedup_recall"] = (self.quality["dedup_recall"], "ratio")
        return e

    def derive(self, m, spans, selft, n):
        m["text.filter_s"] = sum(selft[sp["id"]] for sp in spans
                                 if sp["layer"] == "operators.textanalysis") / n
        m["dedup.busy_s"] = sum(selft[sp["id"]] for sp in spans
                                if sp["layer"] == "operators.dedup") / n


# ---------------------------------------------------------------------------
# annotation_serving
# ---------------------------------------------------------------------------

SERVING_SQL = {
    "point": "SELECT hgnc_gene_symbol, hgnc_id, entrez_id, ensembl_gene_id FROM gene_ids "
             "WHERE hgnc_gene_symbol = '{symbol}'",
    "profile": "SELECT i.hgnc_gene_symbol, i.hgnc_id, i.entrez_id, i.ensembl_gene_id, "
               "d.percentage_essential, d.mean_score_all, c.LOEUF "
               "FROM gene_ids i LEFT JOIN depmap_essentiality d USING (hgnc_gene_symbol) "
               "LEFT JOIN constraint_scores c USING (hgnc_gene_symbol) "
               "WHERE i.hgnc_gene_symbol = '{symbol}'",
    "filter_agg": "SELECT count(*) AS n, avg(c.LOEUF) AS mean_loeuf, "
                  "min(d.mean_score_all) AS min_score "
                  "FROM depmap_essentiality d JOIN constraint_scores c "
                  "USING (hgnc_gene_symbol) "
                  "WHERE d.percentage_essential >= {ess} AND c.LOEUF <= {loeuf}",
    "topk": "SELECT Interaction_hgnc_gene_symbol, combined_score FROM string_ppi "
            "WHERE hgnc_gene_symbol = '{symbol}' AND combined_score IS NOT NULL "
            "ORDER BY combined_score DESC, Interaction_hgnc_gene_symbol NULLS LAST LIMIT 10",
}
SESSION_READS = sum(gen.SESSION_READS.values())  # then one refresh write
SAMPLE_EVERY = 4  # reads kept for the DuckDB check


class AnnotationServing(Workload):
    name = "annotation_serving"

    def setup(self):
        from gene_level_metadata_pipeline_spark.engine import Engine

        spark = self.start_session()
        with open(os.path.join(self.inputs, "reads.json")) as f:
            self.reads = json.load(f)
        with open(os.path.join(self.inputs, "changes.json")) as f:
            self.batches = json.load(f)
        self.silver = os.path.join(self.out, "silver")
        self.raw = os.path.join(self.inputs, "raw")
        # the release pass is traced in a traced run: it is where the
        # sources and gene_pipeline layers run in this workload
        self.setup_tracer = SparkTracer(spark) if self.trace else NullTracer()
        with self.setup_tracer.span("release_pass", "unit", op=-1):
            self.tables = rel.build_release(spark, self.raw, self.silver,
                                            self.setup_tracer, rel.SERVING_TABLES)
        self.eng = Engine(spark)
        for name, path in self.tables.items():
            self.eng.put(name, spark.read.parquet(path), cache=True).count()
        self.read_lat, self.write_lat = [], []
        self.sql_ms, self.exec_ms = [], []
        self.samples = []     # (version, sql, rows)
        self.version = 0      # refreshes applied
        self.cursor = 0
        # warm-up: three sessions (their refreshes are part of the state);
        # session times keep falling for ~10 sessions as the JIT warms
        for _ in range(3):
            self.session(NullTracer(), record=False)
        return spark

    def read(self, tr, r, record=True):
        sql = SERVING_SQL[r["kind"]].format(**r)
        t = time.perf_counter()
        with tr.span("Engine.sql", "engine"):
            df = self.eng.sql(sql)
        t1 = time.perf_counter()
        with tr.span("collect", "engine.exec"):
            rows = [tuple(x) for x in df.collect()]
        t2 = time.perf_counter()
        if record:
            self.read_lat.append(t2 - t)
            self.sql_ms.append((t1 - t) * 1e3)
            self.exec_ms.append((t2 - t1) * 1e3)
        n = len(self.read_lat)
        if not record or n % SAMPLE_EVERY == 0:
            self.samples.append((self.version, sql, rows))

    def refresh(self, tr, record=True):
        from gene_level_metadata_pipeline_spark.operators import harmonize as H
        from gene_level_metadata_pipeline_spark.sources import sinks as S

        b = self.version
        batch = self.batches[b % len(self.batches)]
        offset = (b // len(self.batches)) * 10 * len(self.batches)
        t = time.perf_counter()
        changes = self.spark.createDataFrame(
            [(c["hgnc_gene_symbol"], c["LOEUF"], c["version"] + offset, c["op"])
             for c in batch],
            "hgnc_gene_symbol string, LOEUF double, version long, op string")
        old = self.eng.get("constraint_scores")
        merged = tr.call("operators.harmonize", H.cdc_apply, old, changes, "hgnc_gene_symbol")
        path = os.path.join(self.silver, f"constraint_scores_v{b + 1}")
        with tr.span("write_compacted", "sinks") as sp:
            files = S.write_compacted(merged, path, target_rows_per_file=2000)
            if sp is not None:
                sp["files"] = files
        with tr.span("Catalog.put", "plans.catalog"):
            self.eng.put("constraint_scores", self.spark.read.parquet(path), cache=True).count()
        old.unpersist()
        self.version += 1
        if record:
            self.write_lat.append(time.perf_counter() - t)

    def session(self, tr, record=True):
        for _ in range(SESSION_READS):
            self.read(tr, self.reads[self.cursor % len(self.reads)], record)
            self.cursor += 1
        self.refresh(tr, record)

    def unit(self, tr):
        self.session(tr)

    def attempted(self) -> int:  # every read and write of the timed sessions
        return self.units * (SESSION_READS + 1)

    def failed(self, mismatches) -> int:
        return min(self.attempted(), len(self.errors) * (SESSION_READS + 1) + len(mismatches))

    def check(self):
        import checks

        # DuckDB builds its own base tables from the raw files
        oracle = rel.oracle_sql(self.raw)
        return rel.check_release(self.raw, self.tables) + checks.check_serving(
            oracle, self.batches, self.samples)

    def notes(self):
        return dict(super().notes(), write_s=self.write_lat)

    def end_to_end(self):
        e = super().end_to_end()
        lat_ms = [x * 1e3 for x in self.read_lat]
        e["read_p50_ms"] = (statistics.median(lat_ms), "ms")
        tail = tail_percentile(lat_ms)
        if tail is not None:
            e["read_tail_ms"] = (tail[1], "ms")
            e["read_tail_pct"] = (tail[0], "percentile")
        e["reads"] = (len(lat_ms), "count")
        e["reads_per_s"] = (len(lat_ms) / sum(self.read_lat), "1/s")
        e["write_p50_ms"] = (statistics.median(self.write_lat) * 1e3, "ms")
        e["writes"] = (len(self.write_lat), "count")
        size = sum(rel.dir_stats(p)[0] for p in self.tables.values())
        e["stored_bytes_per_input_byte"] = (size / self.truth["raw_bytes"], "ratio")
        return e

    def derive(self, m, spans, selft, n):
        # release-pass layers: from the traced set-up pass (one pass)
        setup = self.setup_tracer.spans
        sself = self.setup_tracer.self_times()
        with open(self.span_file, "a") as f:
            for sp in setup:
                f.write(json.dumps(dict(sp, self_s=sself[sp["id"]])) + "\n")
        for key, layer in (("sources.delim_s", "sources.delim"),
                           ("sources.xlsx_s", "sources.xlsx"),
                           ("sources.json_s", "sources.json"),
                           ("gene_pipeline.build_s", "gene_pipeline")):
            m[key] = sum(sself[sp["id"]] for sp in setup if sp["layer"] == layer)
        src = [sp for sp in setup if sp["layer"].startswith("sources")]
        src_s = sum(sself[sp["id"]] for sp in src)
        m["sources.rows_per_s"] = (sum(sp.get("input.records", 0) for sp in src) / src_s
                                   if src_s else 0.0)
        m["gene_pipeline.slowest_table_s"] = max(
            (sp["end"] - sp["start"] for sp in setup if sp["layer"] == "gene_pipeline"),
            default=0.0)
        spine_w = [sp for sp in setup if sp["layer"] == "sinks"
                   and sp.get("table") in rel.SPINE_TABLES]
        rows = sum(sp.get("output.records", 0) for sp in spine_w)
        m["harmonize.rows_out"] = rows
        m["harmonize.fanout"] = (rows / (len(spine_w) * self.truth["spine_size"])
                                 if spine_w else 0.0)
        reads = sum(1 for sp in spans if sp["layer"] == "engine")
        m["engine.sql_ms"] = (sum(selft[sp["id"]] for sp in spans if sp["layer"] == "engine")
                              * 1e3 / max(1, reads))
        m["engine.exec_ms"] = (sum(selft[sp["id"]] for sp in spans
                                   if sp["layer"] == "engine.exec") * 1e3 / max(1, reads))
        cached = sum(sp.get("plan.cached_scans", 0) for sp in spans
                     if sp["layer"] == "engine.exec")
        files = sum(sp.get("plan.file_scans", 0) for sp in spans
                    if sp["layer"] == "engine.exec")
        m["catalog.cached_scan_frac"] = cached / (cached + files) if cached + files else 0.0
        cdc = [sp for sp in spans if sp["layer"] == "operators.harmonize"]
        m["harmonize.cdc_apply_s"] = (sum(selft[sp["id"]] for sp in cdc) / len(cdc)
                                      if cdc else 0.0)


def make(name, inputs, truth, out_dir, trace) -> Workload:
    cls = {"corpus_curation": CorpusCuration, "annotation_serving": AnnotationServing}[name]
    return cls(inputs, truth, out_dir, trace)
