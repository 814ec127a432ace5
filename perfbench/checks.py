"""Independent checks for corpus_curation and annotation_serving.

* corpus_curation: brute-force word-3-gram Jaccard (re-implemented here)
  for every pair the engine reported and every planted pair; planted
  exact duplicates and low-quality pages must be gone from the curated
  output.
* annotation_serving: DuckDB builds its own base tables from the raw files,
  replays the refresh change batches on them and answers the sampled reads
  at the version each was issued against.
"""

from __future__ import annotations

import math

import pyarrow.parquet as pq

from gen import jaccard

THRESHOLD = 0.5  # near_dup_pairs' default similarity threshold


def _c4_text(text: str) -> str | None:
    """The C4 line rules as documented (terminal punctuation, >= 3 words,
    no 'javascript'; whole page dropped on '{' or 'lorem ipsum')."""
    if "{" in text or "lorem ipsum" in text.lower():
        return None
    keep = [ln for ln in text.split("\n") if ln
            and ln.endswith((".", "!", "?", '"', "'"))
            and len([w for w in ln.split(" ") if w]) >= 3
            and "javascript" not in ln.lower()]
    return "\n".join(keep) if keep else None


def check_curation(inputs: str, truth: dict, out: str) -> dict:
    corpus = pq.read_table(f"{inputs}/corpus.parquet").to_pydict()
    text = dict(zip(corpus["doc_id"], corpus["text"]))
    pairs = pq.read_table(f"{out}/near_dup_pairs").to_pydict()
    curated = set(pq.read_table(f"{out}/curated").to_pydict()["doc_id"])
    bad = []
    found = set()
    for a, b, j in zip(pairs["doc_a"], pairs["doc_b"], pairs["jaccard"]):
        want = jaccard(_c4_text(text[a]) or "", _c4_text(text[b]) or "")
        if abs(want - j) > 1e-4 or want < THRESHOLD:
            bad.append(f"pair ({a},{b}): engine jaccard {j}, brute force {want:.4f}")
        found.add((min(a, b), max(a, b)))
        if a in curated and b in curated:
            bad.append(f"pair ({a},{b}): both members kept")
    # planted near-duplicates at or above the threshold whose pages pass
    # the word-count rule are the recall denominator
    eligible = []
    for a, b, _ in truth["near_pairs"]:
        ta, tb = _c4_text(text[a]), _c4_text(text[b])
        if ta is None or tb is None:
            continue
        if min(len([w for w in t.split(" ") if w]) for t in (ta, tb)) < 50:
            continue
        if jaccard(ta, tb) >= THRESHOLD:
            eligible.append((min(a, b), max(a, b)))
    hit = sum(1 for p in eligible if p in found)
    for a, b in truth["exact_pairs"]:
        if a in curated and b in curated:
            bad.append(f"exact duplicate ({a},{b}) kept twice")
    for d in truth["low_quality"]:
        if d in curated:
            bad.append(f"low-quality page {d} kept")
    return {
        "mismatches": bad[:20],
        "dedup_recall": hit / len(eligible) if eligible else 1.0,
        "planted_eligible_pairs": len(eligible),
        "reported_pairs": len(found),
        "curated_docs": len(curated),
    }


def _key(row):
    """Sort key: floats rounded coarsely so near-equal values sort alike."""
    return tuple((0, "") if v is None else
                 (1, round(v, 6)) if isinstance(v, float) else (2, str(v)) for v in row)


def _same_rows(got, want) -> bool:
    """Cell-by-cell equality; floats within 1e-9 relative (engines sum
    doubles in different orders)."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for x, y in zip(g, w):
            if isinstance(x, float) and isinstance(y, float):
                if not (math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-12)
                        or (math.isnan(x) and math.isnan(y))):
                    return False
            elif x != y and str(x) != str(y):
                return False
    return True


def check_serving(base: dict[str, str], batches: list, samples: list) -> list[str]:
    """Build each base table from its query in ``base``, replay the
    refreshes in DuckDB and compare every sampled read."""
    import duckdb

    con = duckdb.connect()
    bad = []
    try:
        con.execute("SET threads TO 2")
        for name, sql in base.items():
            con.execute(f"CREATE TABLE {name} AS {sql}")
        version = 0
        for v, sql, rows in sorted(samples, key=lambda s: s[0]):
            while version < v:
                b = version
                batch = batches[b % len(batches)]
                offset = (b // len(batches)) * 10 * len(batches)
                con.execute("CREATE OR REPLACE TEMP TABLE chg (k VARCHAR, loeuf DOUBLE, "
                            "version BIGINT, op VARCHAR)")
                con.executemany("INSERT INTO chg VALUES (?, ?, ?, ?)",
                                [(c["hgnc_gene_symbol"], c["LOEUF"], c["version"] + offset,
                                  c["op"]) for c in batch])
                con.execute("""
                    CREATE OR REPLACE TEMP TABLE win AS SELECT * FROM chg
                    QUALIFY row_number() OVER (PARTITION BY k ORDER BY version DESC, op DESC) = 1""")
                con.execute("DELETE FROM constraint_scores WHERE hgnc_gene_symbol IN "
                            "(SELECT k FROM win)")
                con.execute("INSERT INTO constraint_scores SELECT k, loeuf FROM win "
                            "WHERE op <> 'delete'")
                version += 1
            want = [tuple(r) for r in con.execute(sql).fetchall()]
            got = [tuple(r) for r in rows]
            if " ORDER BY " not in sql:
                got, want = sorted(got, key=_key), sorted(want, key=_key)
            if not _same_rows(got, want):
                bad.append(f"v{v}: {sql[:80]}... engine {got[:2]} vs oracle {want[:2]}")
    finally:
        con.close()
    return bad[:20]
