"""Seeded input generator for the benchmark workloads.

Every file is a pure function of ``(seed, scale)``: the same seed gives
byte-identical files (zip members carry a fixed date, JSON keys a fixed
order). Each generated directory holds a
``truth.json`` with the ground truth the checks compare against, and a
``.done`` marker so a second run with the same seed reuses the files.

    python3 perfbench/gen.py serving 1 .perfbench/inputs   # generate one kind

Layouts:

* ``corpus``   — a Parquet corpus (Zipfian vocabulary) with planted exact
  duplicates, near-duplicates at known word-3-gram Jaccard values and
  low-quality pages.
* ``serving``  — a raw zone shaped like the reference's sources (an
  HGNC-style gene table plus the files of the builders in
  ``release.SERVING_TABLES``, in the reference's formats: TSV, wide CSV,
  space-separated edge list, whitespace table, banner-skip gct, xlsx sheet
  and JSON pages), the read mix and the change batches applied by the
  refresh writes.
"""

from __future__ import annotations

import json
import os
import shutil
import zipfile

import numpy as np

# Raw-zone scale: spine genes, non-coding rows, models in the DepMap-shaped
# matrix (odd and prime so no rounded mean ties), genes in that matrix,
# STRING edges, GTEx tissues, rows of the xlsx sheet.
SERVING_SCALE = dict(pcg=2500, noncoding=400, models=97, depmap_genes=300,
                     edges=6000, tissues=4, xlsx_rows=100)
CORPUS_SCALE = dict(base_docs=1200, exact_dups=90, near_dups=150,
                    low_quality=150, vocab=3000)
# serving: sessions of reads, change batches (200 keys, a tenth of them
# deletes: assumed sizes, not measured ones)
SERVING_MIX = dict(sessions=60, changes_per_batch=200, batches=60)

LETTERS = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))


# ---------------------------------------------------------------------------
# deterministic writers
# ---------------------------------------------------------------------------


def _write_text(path: str, lines: list[str]) -> None:
    with open(path, "wb") as f:
        f.write(("\n".join(lines) + "\n").encode())


def _xml_escape(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _col_letter(i: int) -> str:
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


def write_xlsx(path: str, sheets: dict[str, list[list[str]]]) -> None:
    """Minimal xlsx (inline-string cells) with a fixed member date."""
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    members = {
        "[Content_Types].xml": (
            '<?xml version="1.0" encoding="UTF-8"?>'
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            + "".join(
                f'<Override PartName="/xl/worksheets/sheet{i + 1}.xml" '
                'ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
                for i in range(len(sheets))
            )
            + "</Types>"
        ),
        "_rels/.rels": (
            '<?xml version="1.0" encoding="UTF-8"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
            "</Relationships>"
        ),
        "xl/workbook.xml": (
            f'<?xml version="1.0" encoding="UTF-8"?><workbook xmlns="{ns}" xmlns:r="{rel}"><sheets>'
            + "".join(
                f'<sheet name="{name}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
                for i, name in enumerate(sheets)
            )
            + "</sheets></workbook>"
        ),
        "xl/_rels/workbook.xml.rels": (
            '<?xml version="1.0" encoding="UTF-8"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            + "".join(
                f'<Relationship Id="rId{i + 1}" Type="{rel}/worksheet" '
                f'Target="worksheets/sheet{i + 1}.xml"/>'
                for i in range(len(sheets))
            )
            + "</Relationships>"
        ),
    }
    for i, rows in enumerate(sheets.values()):
        body = []
        for r, row in enumerate(rows, start=1):
            cells = "".join(
                f'<c r="{_col_letter(c)}{r}" t="inlineStr"><is><t>{_xml_escape(v)}</t></is></c>'
                for c, v in enumerate(row)
            )
            body.append(f'<row r="{r}">{cells}</row>')
        members[f"xl/worksheets/sheet{i + 1}.xml"] = (
            f'<?xml version="1.0" encoding="UTF-8"?><worksheet xmlns="{ns}"><sheetData>'
            + "".join(body)
            + "</sheetData></worksheet>"
        )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, text in members.items():
            info = zipfile.ZipInfo(name, date_time=(2020, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(info, text.encode())


def _fmt(x: float, nd: int) -> str:
    return f"{x:.{nd}f}"


# ---------------------------------------------------------------------------
# release raw zone
# ---------------------------------------------------------------------------


def _symbols(rng: np.random.Generator, n: int, prefix_len: int = 3) -> list[str]:
    pre = rng.choice(LETTERS, size=(n, prefix_len))
    return ["".join(p) + str(i + 1) for i, p in enumerate(pre)]


def _packed(rng, n, fmt, p_empty, max_k):
    """Pipe-packed multi-id strings ('' sentinel when empty)."""
    ks = rng.integers(1, max_k + 1, size=n)
    empty = rng.random(n) < p_empty
    ids = rng.integers(10000, 99999, size=(n, max_k))
    return [
        "" if empty[i] else "|".join(fmt.format(v) for v in ids[i, : ks[i]])
        for i in range(n)
    ]


def gen_release(out: str, seed: int, scale: dict) -> dict:
    rng = np.random.default_rng([seed, 1])
    n_pcg, n_nc = scale["pcg"], scale["noncoding"]
    n = n_pcg + n_nc
    sym = _symbols(rng, n)
    # a few NULL symbols among protein-coding rows (the spine drops them)
    null_sym = set(rng.choice(n_pcg, size=max(1, n_pcg // 400), replace=False).tolist())
    locus = ["protein-coding gene"] * n_pcg + ["non-coding RNA"] * n_nc
    hgnc_id = [f"HGNC:{i + 1}" for i in range(n)]
    entrez = [("" if rng.random() < 0.01 else str(100000 + i)) for i in range(n)]
    ensg = [f"ENSG{i + 1:011d}" for i in range(n)]
    names = [
        f"{'gene' if i % 3 else 'PROTEIN'} family member {i % 97} of {sym[i].lower()}"
        for i in range(n)
    ]
    prev = _packed(rng, n, "P{}", 0.6, 3)
    alias = _packed(rng, n, "A{}", 0.5, 4)
    mgd = _packed(rng, n, "MGI:{}", 0.3, 2)
    uniprot = _packed(rng, n, "Q{}", 0.2, 2)
    group = _packed(rng, n, "fam{}", 0.5, 2)
    hgnc_rows = ["\t".join([
        "hgnc_id", "symbol", "name", "locus_group", "prev_symbol",
        "alias_symbol", "mgd_id", "uniprot_ids", "gene_group", "entrez_id",
        "ensembl_gene_id"])]
    for i in range(n):
        s = "" if i in null_sym else sym[i]
        hgnc_rows.append("\t".join([
            hgnc_id[i], s, names[i], locus[i], prev[i], alias[i], mgd[i],
            uniprot[i], group[i], entrez[i], ensg[i]]))
    _write_text(f"{out}/hgnc_complete_set.txt", hgnc_rows)
    pcg_idx = [i for i in range(n_pcg) if i not in null_sym]
    pcg_sym = [sym[i] for i in pcg_idx]

    # MANE / canonical transcript flags (biomaRt snapshot)
    mane = ["hgnc_symbol\tensembl_transcript_id\ttranscript_mane_select\ttranscript_is_canonical"]
    for i in pcg_idx:
        for t in range(int(rng.integers(1, 3))):
            tid = f"ENST{i + 1:09d}{t}"
            mane.append("\t".join([
                sym[i], tid, f"NM_{i:06d}.{t}" if t == 0 else "",
                "1" if t == 0 or rng.random() < 0.1 else ""]))
    _write_text(f"{out}/mane.tsv", mane)

    # STRING: space-separated edge list with 9606.-prefixed protein ids,
    # and the ensembl -> STRING id map (unmapped genes dropped)
    sid = {i: f"9606.ENSP{i + 1:011d}" for i in range(n) if rng.random() < 0.9}
    sid_keys = np.array(sorted(sid))
    smap = ["ensembl_gene_id\tSTRING_id"] + [f"{ensg[i]}\t{sid[i]}" for i in sid_keys]
    _write_text(f"{out}/string_map.tsv", smap)
    # hub-skewed sources: Zipf-ish degree
    hub = rng.zipf(1.6, size=scale["edges"]) % len(sid_keys)
    dst = rng.integers(0, len(sid_keys), size=scale["edges"])
    score = rng.integers(150, 1000, size=scale["edges"])
    edges = ["protein1 protein2 combined_score"]
    for a, b, s in zip(sid_keys[hub], sid_keys[dst], score):
        if a != b:
            edges.append(f"{sid[a]} {sid[b]} {s}")
    _write_text(f"{out}/protein.links.txt", edges)

    # PANTHER: paginated JSON keyed by UniProt accession
    uni = sorted({u for i in pcg_idx for u in uniprot[i].split("|") if u})
    os.makedirs(f"{out}/panther_pages", exist_ok=True)
    page = 0
    for start in range(0, len(uni), 2500):
        recs = [json.dumps({"UNIPROT": u,
                            "panther_family": f"PTHR{10000 + int(rng.integers(5000))}",
                            "protein_class": f"PC{int(rng.integers(300)):05d}"})
                for u in uni[start:start + 2500]]
        _write_text(f"{out}/panther_pages/page{page:03d}.json", recs)
        page += 1

    # SCoNeS supplement: xlsx, 19 columns, Gene at 1, SCoNeS at 17, DOMINO at 19
    xr = scale["xlsx_rows"]
    sc = [["Gene"] + [f"c{k}" for k in range(2, 17)] + ["SCoNeS", "c18", "DOMINO"]]
    for i in rng.choice(n, size=xr, replace=False):
        sc.append([sym[i]] + [str(int(rng.integers(100))) for _ in range(15)]
                  + [_fmt(rng.random(), 4), "x", _fmt(rng.random(), 4)])
    write_xlsx(f"{out}/scones.xlsx", {"S1": sc})

    # DepMap: models x genes wide CSV, gene columns "SYMBOL (entrez)"
    genes_dm = rng.choice(pcg_idx, size=min(scale["depmap_genes"], len(pcg_idx)), replace=False)
    eff = rng.normal(-0.3, 0.5, size=(scale["models"], len(genes_dm)))
    dm = [",".join(["ModelID"] + [f"{sym[i]} ({entrez[i] or 0})" for i in genes_dm])]
    for r in range(scale["models"]):
        dm.append(",".join([f"ACH-{r:06d}"] + [f"{v:.3f}" for v in eff[r]]))
    _write_text(f"{out}/CRISPRGeneEffect.csv", dm)

    # GTEx median TPM: gct with two banner lines, versioned ids, PAR_Y rows
    tissues = [f"Tissue_{k}" for k in range(scale["tissues"])]
    gt = ["#1.2", f"{n}\t{len(tissues)}", "\t".join(["Name", "Description"] + tissues)]
    tpm = rng.gamma(0.8, 20.0, size=(n, len(tissues)))
    for i in range(n):
        suffix = "_PAR_Y" if rng.random() < 0.005 else ""
        gt.append("\t".join([f"{ensg[i]}.{int(rng.integers(1, 20))}{suffix}", sym[i]]
                            + [f"{v:.4f}" for v in tpm[i]]))
    _write_text(f"{out}/gtex_median_tpm.gct", gt)

    # gnomAD constraint: whitespace-separated table (read.table shape)
    gn = ["gene   transcript   mane_select   lof.oe_ci.upper"]
    for i in pcg_idx:
        for t in range(int(rng.integers(1, 3))):
            gn.append(f"{sym[i]}    ENST{i + 1:09d}{t}\t{'true' if t == 0 else 'false'}   {_fmt(rng.uniform(0.05, 2.0), 3)}")
    _write_text(f"{out}/gnomad_constraint.txt", gn)

    raw_bytes = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(out) for f in fs
    )
    return {
        "spine_size": len(set(pcg_sym)),
        "raw_bytes": raw_bytes,
        "symbols": sorted(set(pcg_sym)),
    }


# ---------------------------------------------------------------------------
# corpus
# ---------------------------------------------------------------------------


def word_shingles(text: str, n: int = 3) -> set[str]:
    """Distinct word n-grams over single-space tokens (the engine's
    shingle definition, re-implemented for the brute-force check)."""
    w = text.split(" ")
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}


def jaccard(a: str, b: str, n: int = 3) -> float:
    sa, sb = word_shingles(a, n), word_shingles(b, n)
    if not sa and not sb:
        return 0.0
    return len(sa & sb) / len(sa | sb)


def _sentence(rng, vocab, probs, k):
    return " ".join(vocab[rng.choice(len(vocab), size=k, p=probs)]).capitalize() + "."


def _document(rng, vocab, probs):
    lines = [_sentence(rng, vocab, probs, int(rng.integers(8, 16)))
             for _ in range(int(rng.integers(6, 12)))]
    return "\n".join(lines)


def gen_corpus(out: str, seed: int, scale: dict) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 2])
    vocab = np.array([f"w{k}{''.join(rng.choice(LETTERS, size=3)).lower()}"
                      for k in range(scale["vocab"])])
    ranks = np.arange(1, len(vocab) + 1)
    probs = (1.0 / ranks ** 1.05)
    probs /= probs.sum()
    docs = [_document(rng, vocab, probs) for _ in range(scale["base_docs"])]
    texts = list(docs)
    # low-quality pages the filters must drop: code braces, lorem ipsum,
    # too-short pages, symbol-heavy pages, unpunctuated lines
    low = []
    for k in range(scale["low_quality"]):
        kind = k % 5
        base = _document(rng, vocab, probs)
        if kind == 0:
            t = base + "\nfunction f() { return 1; }."
        elif kind == 1:
            t = "Lorem ipsum dolor sit amet.\n" + base
        elif kind == 2:
            t = _sentence(rng, vocab, probs, 6)
        elif kind == 3:
            t = "\n".join("# ... " + line for line in base.split("\n"))
        else:
            t = base.replace(".", "")
        low.append(len(texts))
        texts.append(t)
    # planted exact duplicates: verbatim copies of base documents
    exact = []
    for src in rng.choice(scale["base_docs"], size=scale["exact_dups"], replace=False):
        exact.append([int(src), len(texts)])
        texts.append(docs[src])
    # planted near-duplicates: replace a share of one line's words per line
    near = []
    used = set(int(p[0]) for p in exact)
    pool = [i for i in range(scale["base_docs"]) if i not in used]
    for src in rng.choice(pool, size=scale["near_dups"], replace=False):
        frac = float(rng.choice([0.03, 0.06, 0.1, 0.15]))
        lines = docs[src].split("\n")
        new_lines = []
        for line in lines:
            words = line[:-1].split(" ")
            for j in range(len(words)):
                if rng.random() < frac:
                    words[j] = vocab[int(rng.integers(len(vocab)))]
            new_lines.append(" ".join(words) + ".")
        t = "\n".join(new_lines)
        if t == docs[src]:  # keep it a near (not exact) duplicate
            first = new_lines[0].split(" ")
            first[0] = "zz" + first[0]
            t = "\n".join([" ".join(first)] + new_lines[1:])
        near.append([int(src), len(texts), round(jaccard(docs[src], t), 6)])
        texts.append(t)
    order = rng.permutation(len(texts))  # ids are shuffled positions
    doc_id = np.empty(len(texts), dtype=np.int64)
    doc_id[order] = np.arange(len(texts))
    ids = doc_id.tolist()
    table = pa.table({
        "doc_id": pa.array([ids[i] for i in order.tolist()], pa.int64()),
        "text": pa.array([texts[i] for i in order.tolist()], pa.string()),
    })
    # a corpus arrives in shards: 8 files, so a scan has 8 splits
    os.makedirs(f"{out}/corpus.parquet")
    step = -(-table.num_rows // 8)
    for k in range(8):
        pq.write_table(table.slice(k * step, step),
                       f"{out}/corpus.parquet/part-{k:02d}.parquet", compression="snappy")
    return {
        "n_docs": len(texts),
        "exact_pairs": [[ids[a], ids[b]] for a, b in exact],
        "near_pairs": [[ids[a], ids[b], j] for a, b, j in near],
        "low_quality": [ids[i] for i in low],
        "corpus_bytes": sum(os.path.getsize(f"{out}/corpus.parquet/{f}")
                            for f in os.listdir(f"{out}/corpus.parquet")),
    }


# ---------------------------------------------------------------------------
# serving
# ---------------------------------------------------------------------------

# reads in one serving session (then one refresh write): the same
# composition in every session, in a seeded order. 19 reads per write is
# the 95/5 read/update mix of YCSB workload B (Cooper et al., SoCC 2010);
# the split across read kinds is an assumption, not a measurement.
SESSION_READS = {"point": 10, "profile": 4, "filter_agg": 2, "topk": 3}
# symbol popularity: YCSB's Zipfian request constant
ZIPF_THETA = 0.99


def gen_serving(out: str, seed: int, mix: dict, scale: dict) -> dict:
    os.makedirs(f"{out}/raw", exist_ok=True)
    truth = gen_release(f"{out}/raw", seed, scale)
    rng = np.random.default_rng([seed, 3])
    syms = np.array(truth["symbols"])
    # Zipf-skewed popularity over a seeded permutation of the spine
    perm = rng.permutation(len(syms))
    zr = 1.0 / np.arange(1, len(syms) + 1) ** ZIPF_THETA
    zr /= zr.sum()
    session = [k for k, n in SESSION_READS.items() for _ in range(n)]
    reads = []
    for _ in range(mix["sessions"]):
        for kind in rng.permutation(session):
            r = {"kind": str(kind), "symbol": str(syms[perm[rng.choice(len(syms), p=zr)]])}
            if kind == "filter_agg":
                r["ess"] = float(rng.choice([10.0, 20.0, 30.0, 40.0]))
                r["loeuf"] = float(rng.choice([0.35, 0.6, 1.0]))
            reads.append(r)
    batches = []
    for b in range(mix["batches"]):
        chg = []
        for g in rng.choice(len(syms), size=mix["changes_per_batch"], replace=False):
            op = "delete" if rng.random() < 0.1 else "upsert"
            for v in range(int(rng.integers(1, 3))):  # some keys carry 2 versions
                chg.append({"hgnc_gene_symbol": str(syms[g]),
                            "LOEUF": round(float(rng.uniform(0.05, 2.0)), 3),
                            "version": b * 10 + v,
                            "op": op if v else "upsert"})
        batches.append(chg)
    with open(f"{out}/changes.json", "w") as f:
        json.dump(batches, f)
    with open(f"{out}/reads.json", "w") as f:
        json.dump(reads, f)
    return {"spine_size": truth["spine_size"], "raw_bytes": truth["raw_bytes"]}


# ---------------------------------------------------------------------------
# cache by seed
# ---------------------------------------------------------------------------

GENERATORS = {
    "corpus": (gen_corpus, (CORPUS_SCALE,)),
    "serving": (gen_serving, (SERVING_MIX, SERVING_SCALE)),
}


def ensure(kind: str, seed: int, root: str) -> tuple[str, dict]:
    """Generate (once per seed and scale) and return (directory, truth)."""
    import hashlib

    fn, params = GENERATORS[kind]
    tag = hashlib.md5(json.dumps(params, sort_keys=True).encode()).hexdigest()[:8]
    out = os.path.join(root, f"{kind}-{seed}-{tag}")
    done = os.path.join(out, ".done")
    if not os.path.exists(done):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        truth = fn(out, seed, *params)
        with open(os.path.join(out, "truth.json"), "w") as f:
            json.dump(truth, f)
        open(done, "w").close()
    with open(os.path.join(out, "truth.json")) as f:
        return out, json.load(f)


def tree_digest(path: str) -> str:
    """md5 over every generated file's relative path and bytes."""
    import hashlib

    h = hashlib.md5()
    for d, dirs, fs in sorted(os.walk(path)):
        dirs.sort()
        for f in sorted(fs):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


if __name__ == "__main__":
    import sys

    ensure(sys.argv[1], int(sys.argv[2]), sys.argv[3])
