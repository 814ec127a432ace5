"""The user-facing facade: one object exposing the whole engine surface.

A user of the reference pipeline works in three moves — fetch/read messy
sources, tidy them, left-join everything onto the gene spine
(SURVEY.md §3). ``Engine`` packages those moves (plus the scale-out
extensions) over one SparkSession + one Catalog, so the reference
workflow reads as:

    eng = Engine.local()
    genes = eng.read_delim("hgnc.txt", sep="\\t")
    eng.put("genes", genes)
    spn = eng.spine(genes, "symbol")
    prev = eng.harmonize(spn, cleaned_prev_symbols, "symbol")
    eng.sql("SELECT * FROM genes WHERE ...")

Every method is a thin delegation to the module that owns the logic —
the facade adds no semantics of its own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gene_level_metadata_pipeline_spark.plans.catalog import Catalog

__all__ = ["Engine"]


class Engine:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.catalog = Catalog(spark)

    @classmethod
    def local(cls, app_name: str = "gene-engine") -> "Engine":
        from gene_level_metadata_pipeline_spark.session import get_spark

        return cls(get_spark(app_name))

    # -- catalog / SQL ----------------------------------------------------
    def put(self, name: str, df: DataFrame, cache: bool = False) -> DataFrame:
        """Register ``df`` as ``name``; ``cache=True`` pins small tables on
        the driver (see :meth:`Catalog.put`)."""
        return self.catalog.put(name, df, cache=cache)

    def get(self, name: str) -> DataFrame:
        return self.catalog.get(name)

    def sql(self, query: str) -> DataFrame:
        return self.spark.sql(query)

    # -- ingestion (SURVEY §2.1) ------------------------------------------
    def read_delim(self, path: str, **kw) -> DataFrame:
        from gene_level_metadata_pipeline_spark.sources.readers import read_delim

        return read_delim(self.spark, path, **kw)

    def read_excel(self, path: str, **kw) -> DataFrame:
        from gene_level_metadata_pipeline_spark.sources.readers import read_excel

        return read_excel(self.spark, path, **kw)

    def read_json_pages(self, path: str, **kw) -> DataFrame:
        from gene_level_metadata_pipeline_spark.sources.readers import (
            read_json_pages,
        )

        return read_json_pages(self.spark, path, **kw)

    def read_xml(self, path: str, row_tag: str) -> DataFrame:
        from gene_level_metadata_pipeline_spark.sources.readers import read_xml

        return read_xml(self.spark, path, row_tag)

    def read_binary_assets(self, path: str, **kw) -> DataFrame:
        from gene_level_metadata_pipeline_spark.sources.readers import (
            read_binary_assets,
        )

        return read_binary_assets(self.spark, path, **kw)

    def read_parquet(self, path: str) -> DataFrame:
        return self.spark.read.parquet(path)

    # -- the signature pattern (U1 / J1) ----------------------------------
    def spine(self, genes: DataFrame, symbol_col: str) -> DataFrame:
        from gene_level_metadata_pipeline_spark.operators.harmonize import spine

        return spine(genes, symbol_col)

    def harmonize(self, spine_df: DataFrame, source: DataFrame,
                  key, **kw) -> DataFrame:
        from gene_level_metadata_pipeline_spark.operators.harmonize import harmonize

        return harmonize(spine_df, source, key, **kw)

    # -- selected operator families (full set lives in operators/*) -------
    def separate_rows(self, df: DataFrame, col: str, sep: str) -> DataFrame:
        from gene_level_metadata_pipeline_spark.operators.reshape import (
            separate_rows,
        )

        return separate_rows(df, col, sep)

    def keep_unique(self, df: DataFrame, key) -> DataFrame:
        from gene_level_metadata_pipeline_spark.operators.conflicts import (
            keep_unique,
        )

        return keep_unique(df, key)

    def validate(self, rules) -> DataFrame:
        from gene_level_metadata_pipeline_spark.operators.quality import validate

        return validate(rules)

    def write_bronze(self, df: DataFrame, root: str, source: str, **kw) -> str:
        from gene_level_metadata_pipeline_spark.sources.sinks import write_bronze

        return write_bronze(df, root, source, **kw)

    # -- training-data curation front door (operators/{dedup,selection,
    # similarity,textanalysis}.py hold the full families; these are the
    # entry points a corpus pipeline starts from) -----------------------

    def dedup_exact(self, df: DataFrame, text_col: str, id_col: str) -> DataFrame:
        from gene_level_metadata_pipeline_spark.operators.dedup import dedup_exact

        return dedup_exact(df, text_col, id_col)

    def dedup_against_history(
        self, new: DataFrame, history: DataFrame, text_col: str, id_col: str, **kw
    ) -> DataFrame:
        from gene_level_metadata_pipeline_spark.operators.dedup import (
            dedup_against_history,
        )

        return dedup_against_history(new, history, text_col, id_col, **kw)

    def gopher_quality_flags(
        self, df: DataFrame, text_col: str, id_col: str, **kw
    ) -> DataFrame:
        from gene_level_metadata_pipeline_spark.operators.textanalysis import (
            gopher_quality_flags,
        )

        return gopher_quality_flags(df, text_col, id_col, **kw)

    def c4_clean(
        self, df: DataFrame, text_col: str, id_col: str, **kw
    ) -> DataFrame:
        from gene_level_metadata_pipeline_spark.operators.textanalysis import (
            c4_clean,
        )

        return c4_clean(df, text_col, id_col, **kw)

    def remove_dup_spans(
        self, df: DataFrame, text_col: str, id_col: str, **kw
    ) -> DataFrame:
        from gene_level_metadata_pipeline_spark.operators.textanalysis import (
            remove_dup_spans,
        )

        return remove_dup_spans(df, text_col, id_col, **kw)

    def decontaminate(
        self, df: DataFrame, bench: DataFrame, text_col: str, id_col: str,
        **kw,
    ) -> DataFrame:
        from gene_level_metadata_pipeline_spark.operators.textanalysis import (
            decontaminate,
        )

        return decontaminate(df, bench, text_col, id_col, **kw)

    def temperature_mixture_rates(
        self, df: DataFrame, stratum_col: str, alpha: float = 0.5
    ) -> DataFrame:
        from gene_level_metadata_pipeline_spark.operators.selection import (
            temperature_mixture_rates,
        )

        return temperature_mixture_rates(df, stratum_col, alpha)

    def near_dup_pairs(
        self, df: DataFrame, text_col: str, id_col: str, **kw
    ) -> DataFrame:
        from gene_level_metadata_pipeline_spark.operators.dedup import (
            near_dup_pairs,
        )

        return near_dup_pairs(df, text_col, id_col, **kw)

    def canonicalize_duplicates(
        self, docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
    ) -> DataFrame:
        from gene_level_metadata_pipeline_spark.operators.graph import (
            canonicalize_duplicates,
        )

        return canonicalize_duplicates(docs, pairs, id_col)

    def corpus_shuffle(self, df: DataFrame, key_col: str, **kw) -> DataFrame:
        from gene_level_metadata_pipeline_spark.operators.selection import (
            corpus_shuffle,
        )

        return corpus_shuffle(df, key_col, **kw)

    def budget_select(self, df: DataFrame, order_by, cost_col, budget, **kw) -> DataFrame:
        from gene_level_metadata_pipeline_spark.operators.selection import (
            budget_select,
        )

        return budget_select(df, order_by, cost_col, budget, **kw)

    def gaps_islands(self, df: DataFrame, key_col: str, ts_col: str,
                     bucket_us: int) -> DataFrame:
        from gene_level_metadata_pipeline_spark.operators.timeseries import (
            gaps_islands,
        )

        return gaps_islands(df, key_col, ts_col, bucket_us)

    def coalesce_intervals(self, df: DataFrame, key_col: str,
                           start_col: str, end_col: str) -> DataFrame:
        from gene_level_metadata_pipeline_spark.operators.timeseries import (
            coalesce_intervals,
        )

        return coalesce_intervals(df, key_col, start_col, end_col)

    def ols_trend(self, df: DataFrame, group_col: str, x_col: str,
                  y_col: str) -> DataFrame:
        from gene_level_metadata_pipeline_spark.operators.timeseries import (
            ols_trend,
        )

        return ols_trend(df, group_col, x_col, y_col)

    def debounce(self, df: DataFrame, partition_by, ts_col: str,
                 id_col: str, min_gap_us: int) -> DataFrame:
        from gene_level_metadata_pipeline_spark.operators.timeseries import (
            debounce,
        )

        return debounce(df, partition_by, ts_col, id_col, min_gap_us)

    def ohlc_bars(self, df: DataFrame, partition_by: str, ts_col: str,
                  id_col: str, value_col: str, grain: str = "hour") -> DataFrame:
        from gene_level_metadata_pipeline_spark.operators.timeseries import (
            ohlc_bars,
        )

        return ohlc_bars(df, partition_by, ts_col, id_col, value_col, grain)

    def pack_sequences(self, df: DataFrame, order_by, size_col, context_len, **kw) -> DataFrame:
        from gene_level_metadata_pipeline_spark.operators.selection import (
            pack_sequences,
        )

        return pack_sequences(df, order_by, size_col, context_len, **kw)

    def golden_record(self, df: DataFrame, key, rules: dict) -> DataFrame:
        from gene_level_metadata_pipeline_spark.operators.conflicts import (
            golden_record,
        )

        return golden_record(df, key, rules)

    def cdc_apply(self, snapshot: DataFrame, changes: DataFrame, key,
                  **kw) -> DataFrame:
        from gene_level_metadata_pipeline_spark.operators.harmonize import (
            cdc_apply,
        )

        return cdc_apply(snapshot, changes, key, **kw)

    def interval_overlap_join(self, left: DataFrame, right: DataFrame,
                              key, **kw) -> DataFrame:
        from gene_level_metadata_pipeline_spark.operators.temporal import (
            interval_overlap_join,
        )

        return interval_overlap_join(left, right, key, **kw)

    def bpe_train(self, docs: DataFrame, **kw) -> DataFrame:
        from gene_level_metadata_pipeline_spark.operators.textanalysis import (
            bpe_train,
        )

        return bpe_train(docs, **kw)

    def bpe_encode(self, docs: DataFrame, merges, **kw) -> DataFrame:
        from gene_level_metadata_pipeline_spark.operators.textanalysis import (
            bpe_encode,
        )

        return bpe_encode(docs, merges, **kw)

    def feature_hash(self, docs: DataFrame, **kw) -> DataFrame:
        from gene_level_metadata_pipeline_spark.operators.textanalysis import (
            feature_hash,
        )

        return feature_hash(docs, **kw)

    def kcore(self, pairs: DataFrame, k: int, **kw) -> DataFrame:
        from gene_level_metadata_pipeline_spark.operators.graph import kcore

        return kcore(pairs, k, **kw)

    def sssp_weighted(self, pairs: DataFrame, sources: DataFrame,
                      **kw) -> DataFrame:
        from gene_level_metadata_pipeline_spark.operators.graph import (
            sssp_weighted,
        )

        return sssp_weighted(pairs, sources, **kw)

    def attribute_time_decay(self, events: DataFrame, *args, **kw) -> DataFrame:
        from gene_level_metadata_pipeline_spark.operators.temporal import (
            attribute_time_decay,
        )

        return attribute_time_decay(events, *args, **kw)

    def ivf_multiprobe_topk(self, vectors: DataFrame, queries: DataFrame,
                            centroids: DataFrame, **kw) -> DataFrame:
        from gene_level_metadata_pipeline_spark.operators.similarity import (
            ivf_multiprobe_topk,
        )

        return ivf_multiprobe_topk(vectors, queries, centroids, **kw)

    def hits_bipartite(self, edges: DataFrame, **kw) -> DataFrame:
        from gene_level_metadata_pipeline_spark.operators.graph import (
            hits_bipartite,
        )

        return hits_bipartite(edges, **kw)

    def near_dup_against_history(
        self, new: DataFrame, history: DataFrame, text_col: str,
        id_col: str, **kw
    ) -> DataFrame:
        from gene_level_metadata_pipeline_spark.operators.dedup import (
            near_dup_against_history,
        )

        return near_dup_against_history(new, history, text_col, id_col, **kw)

    def retract_aggregate(self, agg: DataFrame, deltas: DataFrame, key,
                          value_col: str, **kw) -> DataFrame:
        from gene_level_metadata_pipeline_spark.operators.harmonize import (
            retract_aggregate,
        )

        return retract_aggregate(agg, deltas, key, value_col, **kw)

    def source_overlap_matrix(self, df: DataFrame, group_col: str,
                              text_col: str, **kw) -> DataFrame:
        from gene_level_metadata_pipeline_spark.operators.dedup import (
            source_overlap_matrix,
        )

        return source_overlap_matrix(df, group_col, text_col, **kw)

    def bm25_topk(self, docs: DataFrame, queries: DataFrame, text_col: str,
                  id_col: str, **kw) -> DataFrame:
        from gene_level_metadata_pipeline_spark.operators.textanalysis import (
            bm25_topk,
        )

        return bm25_topk(docs, queries, text_col, id_col, **kw)

    def dsir_select(self, raw: DataFrame, target: DataFrame, text_col: str,
                    id_col: str, k: int, **kw) -> DataFrame:
        from gene_level_metadata_pipeline_spark.operators.selection import (
            dsir_gumbel_select,
            dsir_log_weights,
        )

        w = dsir_log_weights(raw, target, text_col, id_col, **kw)
        return dsir_gumbel_select(w, id_col, k)

    def pq_index(self, vectors: DataFrame, dim: int, **kw):
        """Train PQ codebooks and encode the corpus; returns
        (codebooks, codes) for pq_adc_topk."""
        from gene_level_metadata_pipeline_spark.operators.similarity import (
            pq_codebooks,
            pq_encode,
        )

        cb = pq_codebooks(vectors, dim, **kw)
        enc_kw = {k: v for k, v in kw.items() if k in ("m", "id_col", "vec_col")}
        return cb, pq_encode(vectors, cb, dim, **enc_kw)

    def pq_adc_topk(self, codes: DataFrame, codebooks: DataFrame,
                    queries: DataFrame, dim: int, **kw) -> DataFrame:
        from gene_level_metadata_pipeline_spark.operators.similarity import (
            pq_adc_topk,
        )

        return pq_adc_topk(codes, codebooks, queries, dim, **kw)
