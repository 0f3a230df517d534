"""Seeded input generators for the end-to-end benchmark.

Every generator takes the seed as an argument and writes only under the
directory it is given; the same seed gives byte-identical inputs.

    fic(seed, out, docs_per_month)    two month folders of raw FIC JSON
    drops(seed, out, k, docs_per_drop) K JSON-lines drop files
    curate(seed, out)                 a row-order permutation of documents

Each writes an `expected.json` next to its inputs with what the output
checks compare against.
"""
import copy
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.01")
# The seven raw FIC documents the FIC gate is certified on, vendored by
# the program itself; the generator perturbs copies of them.
TEMPLATES = os.path.join(HERE, "..", "src", "main", "resources", "golden",
                         "gate-docs.json")

COMP_CATS = ["por_activo", "por_tipo_de_renta", "por_sector_economico",
             "por_pais_emisor", "por_moneda", "por_calificacion"]
FIC_TABLES = ["fic", "composicion_portafolio", "plazo_duracion",
              "caracteristicas", "calificacion", "principales_inversiones",
              "rentabilidad_historica", "volatilidad_historica", "raw_json"]
MESES = ["ene", "feb", "mar", "abr", "may", "jun", "jul", "ago", "sep",
         "oct", "nov", "dic"]


def _write_json(path, obj):
    with open(path, "w", encoding="utf-8") as f:
        json.dump(obj, f, ensure_ascii=False, sort_keys=True)


# ---------------------------------------------------------------- FIC

def _render_date(template_date, y, m, d):
    """The template's own date format, moved to (y, m, d). Degenerate
    values ('n/a', 'desconocida') are kept verbatim: they are the point."""
    if template_date == "jul-25":                    # mon-yy
        return f"{MESES[m - 1]}-{y % 100:02d}"
    if template_date == "AGO-25":                    # MON-yy
        return f"{MESES[m - 1].upper()}-{y % 100:02d}"
    if template_date == "31/01/2025":                # dd/mm/yyyy
        return f"{d:02d}/{m:02d}/{y:04d}"
    if template_date == "2025-7-3":                  # yyyy-m-d
        return f"{y:04d}-{m}-{d}"
    return template_date


def _perturb_numbers(node, rng):
    if isinstance(node, dict):
        for k, v in node.items():
            if k in ("participacion", "valor") and isinstance(v, float):
                node[k] = round(v * rng.uniform(0.9, 1.1), 2)
            else:
                _perturb_numbers(v, rng)
    elif isinstance(node, list):
        for v in node:
            _perturb_numbers(v, rng)


def _child_rows(doc):
    """Rows one document contributes to each of the nine tables."""
    comp = doc.get("composicion_portafolio") or {}
    rv = len(doc.get("rentabilidad_volatilidad") or [])
    return {
        "fic": 1, "caracteristicas": 1, "calificacion": 1, "raw_json": 1,
        "composicion_portafolio": sum(len(comp.get(c) or []) for c in COMP_CATS),
        "plazo_duracion": len(doc.get("plazo_duracion") or []),
        "principales_inversiones": len(doc.get("principales_inversiones") or []),
        "rentabilidad_historica": rv, "volatilidad_historica": rv,
    }


def _fic_doc(templates, key, fund, ymd, rng):
    doc = copy.deepcopy(templates[key])
    _perturb_numbers(doc, rng)
    if "fic" in doc:
        doc["fic"]["nombre_fic"] = f"{doc['fic']['nombre_fic']} {fund:05d}"
        doc["fic"]["fecha_corte"] = _render_date(templates[key]["fic"]["fecha_corte"], *ymd)
    return doc


def fic(seed, out, docs_per_month):
    """Month folders `json_raw_2025_07` and `json_raw_2025_08`.

    Month 1: `docs_per_month` new funds, template drawn uniformly from
    the seven, dated inside July. Month 2 re-delivers 40% of month 1's
    funds dated in August (the update path), re-delivers 10% with an
    older date (June), and fills the rest with new August funds.

    `expected.json` models the load as the program documents it: the
    lenient date-vs-folder check keeps undated and unparseable dates and
    skip-lists a parseable date outside the folder's month; the
    latest-`fecha_corte`-wins merge compares date strings, so an
    'n/a'/'desconocida' re-delivery is a noop and an undated document
    always inserts.
    """
    rng = random.Random(seed)
    with open(TEMPLATES, encoding="utf-8") as f:
        templates = json.load(f)
    keys = sorted(templates)
    live = {}            # (nombre, url) -> per-table rows of the live version
    undated = []         # rows of documents that always insert
    months = []
    fund = 0
    m1 = []
    for i in range(docs_per_month):
        key = rng.choice(keys)
        doc = _fic_doc(templates, key, fund, (2025, 7, rng.randint(1, 28)), rng)
        m1.append((f"fondo_{fund:05d}_2025_07_raw.json", doc, key, fund))
        fund += 1
    m2 = []
    redeliver = rng.sample(m1, docs_per_month // 2)
    for j, (_, _, key, old_fund) in enumerate(redeliver):
        older = j < docs_per_month // 10
        ymd = (2025, 6, rng.randint(1, 28)) if older else (2025, 8, rng.randint(1, 28))
        doc = _fic_doc(templates, key, old_fund, ymd, rng)
        m2.append((f"fondo_{old_fund:05d}_2025_08_raw.json", doc, key, old_fund))
    while len(m2) < docs_per_month:
        key = rng.choice(keys)
        doc = _fic_doc(templates, key, fund, (2025, 8, rng.randint(1, 28)), rng)
        m2.append((f"fondo_{fund:05d}_2025_08_raw.json", doc, key, fund))
        fund += 1
    rng.shuffle(m2)

    for folder, docs, month in (("json_raw_2025_07", m1, 7), ("json_raw_2025_08", m2, 8)):
        d = os.path.join(out, folder)
        os.makedirs(d, exist_ok=True)
        loaded = replaced = skipped = 0
        for name, doc, key, _ in docs:
            _write_json(os.path.join(d, name), doc)
            rows = _child_rows(doc)
            fc = (doc.get("fic") or {}).get("fecha_corte")
            fc = None if fc is None else _iso_of(templates[key]["fic"]["fecha_corte"], fc)
            if fc is not None and fc[:4].isdigit() and int(fc[5:7]) != month:
                skipped += 1
                continue
            if not fc:
                undated.append(rows)
                loaded += 1
                continue
            k = (doc["fic"]["nombre_fic"], "")
            old = live.get(k)
            if old is None:
                live[k] = (fc, rows)
                loaded += 1
            elif fc > old[0]:
                live[k] = (fc, rows)
                loaded += 1
                replaced += 1
        months.append({"folder": folder, "docs": len(docs), "loaded": loaded,
                       "replaced": replaced, "skip_listed": skipped})
    totals = {t: sum(r[t] for _, r in live.values()) + sum(r[t] for r in undated)
              for t in FIC_TABLES}
    _write_json(os.path.join(out, "expected.json"),
                {"months": months, "table_rows": totals})


def _iso_of(template_date, raw):
    """ISO date the transform gives a raw date rendered from template_date."""
    if template_date in ("jul-25", "AGO-25"):
        mon, yy = raw.split("-")
        return f"20{yy}-{MESES.index(mon.lower()) + 1:02d}-01"
    if template_date == "31/01/2025":
        dd, mm, yyyy = raw.split("/")
        return f"{yyyy}-{mm}-{dd}"
    if template_date == "2025-7-3":
        yyyy, mm, dd = raw.split("-")
        return f"{yyyy}-{int(mm):02d}-{int(dd):02d}"
    return raw


# ---------------------------------------------------------- documents

def _documents():
    t = pq.read_table(os.path.join(DATA, "documents.parquet"))
    return t.to_pylist()


def curate(seed, out):
    """The documents table with its rows in a seeded order, split over
    four parquet files. Curation is defined on the set of rows, so every
    seed must produce the manifest recorded in expected/curate.json."""
    rows = _documents()
    random.Random(seed).shuffle(rows)
    d = os.path.join(out, "documents.parquet")
    os.makedirs(d, exist_ok=True)
    schema = pq.read_schema(os.path.join(DATA, "documents.parquet"))
    step = (len(rows) + 3) // 4
    for i in range(4):
        part = rows[i * step:(i + 1) * step]
        pq.write_table(pa.Table.from_pylist(part, schema=schema),
                       os.path.join(d, f"part-{i}.parquet"))


def _shingles(text):
    w = text.split()
    return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}


def _unrelated(rows):
    """Rows with no near-duplicate (word 3-shingle Jaccard >= 0.3) and no
    shared 20-token window anywhere in the table, so that every pair the
    drop index reports is a planted one and every seed's drops have the
    same structure."""
    sh = [_shingles(r["text"]) for r in rows]
    by_shingle = {}
    for i, s in enumerate(sh):
        for x in s:
            by_shingle.setdefault(x, []).append(i)
    bad = set()
    for i, s in enumerate(sh):
        for j in {j for x in s for j in by_shingle[x] if j > i}:
            if len(s & sh[j]) / len(s | sh[j]) >= 0.3:
                bad |= {i, j}
    windows = {}
    for i, r in enumerate(rows):
        w = r["text"].split()
        for k in range(len(w) - 19):
            windows.setdefault(" ".join(w[k:k + 20]), set()).add(i)
    for docs in windows.values():
        if len(docs) > 1:
            bad |= docs
    return [r for i, r in enumerate(rows) if i not in bad]


def drops(seed, out, k, docs_per_drop, planted_share=0.2):
    """K drop files of `docs_per_drop` documents drawn without
    replacement from the unrelated rows of the documents table. In every
    drop, `planted_share` of the documents are planted, each on its own
    source document from this or an earlier drop. Half are
    near-duplicates: a source of at least 50 tokens with its last token
    replaced, word 3-shingle Jaccard >= 47/49, which the dedup index's
    4-band x 2-row MinHash misses with probability below 1e-4 per pair
    (an approximate index cannot promise more; a recall check of pairs
    near its 0.5 threshold would fail by design). Half are new text
    quoting a 55-token verbatim span (the span report's minimum is 50)
    between 20 random tokens on each side; the span index is exact.
    `expected.json` lists every planted (source, planted) pair."""
    rng = random.Random(seed)
    rows = _unrelated([r for r in _documents() if r["text"]])
    rng.shuffle(rows)
    vocab = sorted({w for r in rows for w in r["text"].split()})
    next_id = max(r["doc_id"] for r in _documents()) + 1
    pool = iter(rows)
    sources = []         # original documents not yet used as a source
    near, quotes = [], []
    os.makedirs(out, exist_ok=True)
    for i in range(k):
        n_planted = int(docs_per_drop * planted_share)
        batch = [{"doc_id": r["doc_id"], "text": r["text"], "source": r["source"]}
                 for r, _ in zip(pool, range(docs_per_drop - n_planted))]
        sources.extend(batch)
        for j in range(n_planted):
            quote = j % 2 == 1
            fit = [e for e in sources if len(e["text"].split()) >= (60 if quote else 50)]
            src = rng.choice(fit)
            sources.remove(src)
            toks = src["text"].split()
            if quote:
                at = rng.randint(0, len(toks) - 55)
                text = " ".join([rng.choice(vocab) for _ in range(20)] + toks[at:at + 55]
                                + [rng.choice(vocab) for _ in range(20)])
                quotes.append([src["doc_id"], next_id])
            else:
                toks[-1] = rng.choice([w for w in vocab if w != toks[-1]])
                text = " ".join(toks)
                near.append([src["doc_id"], next_id])
            batch.append({"doc_id": next_id, "text": text, "source": "planted"})
            next_id += 1
        rng.shuffle(batch)
        with open(os.path.join(out, f"drop-{i}.json"), "w", encoding="utf-8") as f:
            for r in batch:
                f.write(json.dumps(r, ensure_ascii=False) + "\n")
    _write_json(os.path.join(out, "expected.json"),
                {"docs_per_drop": docs_per_drop, "drops": k,
                 "near_dups": near, "quotes": quotes})
