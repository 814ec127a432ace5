"""The release pass: raw files to silver Parquet, and its DuckDB check.

The pass reads its raw sources through ``sources.readers``, runs the
``plans.gene_pipeline`` builders on them and writes each table with
``sources.sinks.write_bronze``. ``SERVING_TABLES`` holds the four tables
the serving reads query plus one builder per remaining input format
(GTEx banner-skip gct, SCoNeS xlsx, PANTHER JSON pages).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import functions as F

from gene_level_metadata_pipeline_spark.plans import gene_pipeline as G
from gene_level_metadata_pipeline_spark.sources import readers as R
from gene_level_metadata_pipeline_spark.sources import sinks as S

# HGNC TSV, DepMap wide CSV, gnomAD whitespace table, STRING space-separated
# edges, GTEx banner-skip gct, PANTHER JSON pages, SCoNeS xlsx sheet
SERVING_TABLES = ("gene_ids", "depmap_essentiality", "constraint_scores", "string_ppi",
                  "gtex_expression", "pantherdb", "scones")
# tables keyed by the spine (their row count over the spine is the
# harmonize fan-out); scones is filtered, not spine-joined
SPINE_TABLES = set(SERVING_TABLES) - {"scones"}


def build_release(spark, raw: str, silver: str, tr, tables) -> dict[str, str]:
    """Build ``tables`` from the raw zone; return {table: silver path}."""

    def rd(rel, **kw):
        return tr.call("sources.delim", R.read_delim, spark, f"{raw}/{rel}", **kw)

    def xl(rel, sheet):
        return tr.call("sources.xlsx", R.read_excel, spark, f"{raw}/{rel}", sheet=sheet)

    def js(rel):
        pages = sorted(os.path.join(raw, rel, p) for p in os.listdir(f"{raw}/{rel}"))
        return tr.call("sources.json", R.read_json_pages, spark, pages)

    genes = rd("hgnc_complete_set.txt")
    pcg = genes.where(F.col("locus_group") == "protein-coding gene")
    spn = tr.call("gene_pipeline", G.gene_spine, pcg)
    # table -> (builder, thunk reading its raw inputs)
    plans = {
        "gene_ids": (G.gene_ids, lambda: (pcg, spn)),
        "string_ppi": (G.string_ppi, lambda: (
            rd("protein.links.txt", sep=" ").toDF("from", "to", "combined_score"),
            pcg, rd("string_map.tsv"), spn)),
        "pantherdb": (G.pantherdb, lambda: (js("panther_pages"), pcg, spn)),
        "scones": (G.scones, lambda: (xl("scones.xlsx", 0), pcg)),
        "depmap_essentiality": (G.depmap_essentiality, lambda: (
            rd("CRISPRGeneEffect.csv", sep=","), spn)),
        "gtex_expression": (G.gtex_expression, lambda: (
            rd("gtex_median_tpm.gct", skip=2), pcg, spn)),
        "constraint_scores": (G.constraint_scores, lambda: (
            rd("gnomad_constraint.txt", sep=None), rd("mane.tsv"), spn)),
    }
    out: dict[str, str] = {}
    for name in tables:
        builder, inputs = plans[name]
        df = tr.call("gene_pipeline", builder, *inputs())
        with tr.span("write_bronze", "sinks") as sp:
            out[name] = S.write_bronze(df, silver, name)
            if sp is not None:
                sp["table"] = name
                sp["files"] = dir_stats(out[name])[1]
    return out


# ---------------------------------------------------------------------------
# independent check: DuckDB over the same raw files
# ---------------------------------------------------------------------------


def canon(v) -> str:
    """Type-insensitive canonical cell text (ints and integral floats
    agree; floats compared at 9 significant digits)."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        return str(int(v)) if v.is_integer() else format(v, ".9g")
    return str(v)


def multiset_digest(rows) -> tuple[int, str]:
    """(row count, order-insensitive md5) of an iterable of tuples."""
    keys = sorted("\x1f".join(canon(v) for v in r) for r in rows)
    h = hashlib.md5()
    for k in keys:
        h.update(k.encode())
        h.update(b"\x1e")
    return len(keys), h.hexdigest()


def oracle_sql(raw: str) -> dict[str, str]:
    """DuckDB programs for a fixed subset of tables, written from the
    builders' documented semantics, not from their Spark plans. Columns
    carry the engine's names and order, so the serving check starts its
    own copy of the catalog from these programs."""
    hgnc = (f"read_csv('{raw}/hgnc_complete_set.txt', delim='\t', header=true, "
            "all_varchar=true)")
    spine = (f"spine AS (SELECT DISTINCT symbol AS k FROM {hgnc} "
             "WHERE locus_group = 'protein-coding gene' AND symbol IS NOT NULL), "
             f"g AS (SELECT * FROM {hgnc} WHERE locus_group = 'protein-coding gene')")
    return {
        "gene_ids": f"""
            WITH {spine}
            SELECT DISTINCT spine.k AS hgnc_gene_symbol, NULLIF(g.hgnc_id, '') AS hgnc_id,
                   NULLIF(g.entrez_id, '') AS entrez_id,
                   NULLIF(g.ensembl_gene_id, '') AS ensembl_gene_id
            FROM spine LEFT JOIN g ON g.symbol = spine.k""",
        "depmap_essentiality": f"""
            WITH {spine},
            m AS (UNPIVOT (SELECT * FROM read_csv('{raw}/CRISPRGeneEffect.csv', header=true))
                  ON COLUMNS(* EXCLUDE (ModelID)) INTO NAME g VALUE score),
            a AS (SELECT split_part(g, ' ', 1) AS k,
                         round_even(100.0 * sum(CASE WHEN score < -0.5 THEN 1 ELSE 0 END)
                                    / count(*), 3) AS pe,
                         round_even(avg(score), 3) AS ms
                  FROM m GROUP BY 1)
            SELECT DISTINCT spine.k AS hgnc_gene_symbol, a.pe AS percentage_essential,
                   a.ms AS mean_score_all
            FROM spine LEFT JOIN a USING (k)""",
        # gnomAD rows are split on runs of whitespace; keep MANE-select or
        # canonical transcripts, then per gene the MANE row when it has several
        "constraint_scores": f"""
            WITH {spine},
            ln AS (SELECT regexp_split_to_array(trim(l), '\\s+') AS f
                   FROM read_text('{raw}/gnomad_constraint.txt'),
                        unnest(string_split(content, chr(10))) t(l)
                   WHERE trim(l) <> ''),
            gn AS (SELECT f[1] AS k, f[2] AS tx, f[3] AS mane, CAST(f[4] AS DOUBLE) AS loeuf
                   FROM ln WHERE f[1] <> 'gene'),
            mane AS (SELECT ensembl_transcript_id AS tx
                     FROM read_csv('{raw}/mane.tsv', delim='\t', header=true, all_varchar=true)
                     WHERE coalesce(transcript_mane_select, '') <> ''
                        OR transcript_is_canonical = '1'),
            kept AS (SELECT DISTINCT k, loeuf, mane FROM gn WHERE tx IN (SELECT tx FROM mane)),
            pick AS (SELECT k, loeuf FROM kept
                     QUALIFY count(*) OVER (PARTITION BY k) = 1 OR mane = 'true')
            SELECT DISTINCT spine.k AS hgnc_gene_symbol, pick.loeuf AS LOEUF
            FROM spine LEFT JOIN pick USING (k)""",
        "string_ppi": f"""
            WITH {spine},
            smap AS (SELECT * FROM read_csv('{raw}/string_map.tsv', delim='\t', header=true,
                                            all_varchar=true)),
            e AS (SELECT protein1 AS src, protein2 AS dst, CAST(combined_score AS INTEGER) AS sc
                  FROM read_csv('{raw}/protein.links.txt', delim=' ', header=true)),
            mapped AS (SELECT g.hgnc_id, smap.STRING_id FROM g JOIN smap USING (ensembl_gene_id)),
            hop1 AS (SELECT m.hgnc_id AS h1, m.STRING_id AS s1, e.dst AS s2, e.sc
                     FROM mapped m LEFT JOIN e ON m.STRING_id = e.src),
            hop2 AS (SELECT hop1.h1, hop1.s1, m.hgnc_id AS h2, m.STRING_id AS s2, hop1.sc
                     FROM mapped m LEFT JOIN hop1 ON m.STRING_id = hop1.s2),
            o AS (SELECT g1.symbol AS k, regexp_replace(hop2.s1, '^9606\\.', '') AS sid,
                         regexp_replace(hop2.s2, '^9606\\.', '') AS isid,
                         g2.symbol AS isym, hop2.sc / 1000 AS score
                  FROM hop2 LEFT JOIN g g1 ON g1.hgnc_id = hop2.h1
                            LEFT JOIN g g2 ON g2.hgnc_id = hop2.h2
                  WHERE hop2.sc IS NOT NULL)
            SELECT DISTINCT spine.k AS hgnc_gene_symbol, o.sid AS string_id,
                   o.isid AS Interaction_string_id, o.isym AS Interaction_hgnc_gene_symbol,
                   o.score AS combined_score
            FROM spine LEFT JOIN o USING (k)""",
        "pantherdb": f"""
            WITH {spine},
            idmap AS (SELECT g.symbol AS k, u AS uniprot_ids
                      FROM g, unnest(string_split(g.uniprot_ids, '|')) t(u) WHERE u <> ''),
            p AS (SELECT * FROM read_json('{raw}/panther_pages/*.json',
                                          format='newline_delimited')),
            src AS (SELECT idmap.k, idmap.uniprot_ids, p.panther_family, p.protein_class
                    FROM idmap LEFT JOIN p ON idmap.uniprot_ids = p.UNIPROT)
            SELECT DISTINCT spine.k AS hgnc_gene_symbol, src.uniprot_ids, src.panther_family,
                   src.protein_class
            FROM spine LEFT JOIN src USING (k)""",
    }
def check_release(raw: str, out: dict[str, str]) -> list[str]:
    """Compare row count and multiset digest of every written table that
    has an oracle with the silver Parquet the engine wrote. Returns
    mismatch messages."""
    import duckdb

    bad = []
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for name, sql in oracle_sql(raw).items():
            if name not in out:
                continue
            want = multiset_digest(con.execute(sql).fetchall())
            got = multiset_digest(
                con.execute(f"SELECT * FROM read_parquet('{out[name]}/*.parquet')").fetchall())
            if want != got:
                bad.append(f"{name}: engine {got[0]} rows, oracle {want[0]} rows")
    finally:
        con.close()
    return bad


def dir_stats(root: str) -> tuple[int, int]:
    """(bytes, parquet files) under a directory."""
    size = files = 0
    for d, _, fs in os.walk(root):
        for f in fs:
            if f.endswith(".parquet"):
                size += os.path.getsize(os.path.join(d, f))
                files += 1
    return size, files
