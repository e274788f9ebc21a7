"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical files, another seed writes different ones. Nothing is
read from outside the output directory.

  fic_etl      raw FIC fact-sheet JSON for two monthly folders, the
               fics.json URL lookup, and the expected database state
  drop_epochs  JSON-lines monthly drops of {doc_id, text, source} with
               planted cross-drop near-duplicates and verbatim spans
  gate_suite   the ten-table corpus the operator gates read
"""
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# fic_etl
# --------------------------------------------------------------------------

# (filename bank spelling, fics.json key): camelCase keys, and aliases the
# transform maps to another bank's key.
BANKS = [
    ("bancolombia", "bancolombia"), ("bancoDeBogota", "bancoDeBogota"),
    ("credicorpCapital", "credicorpCapital"), ("davivienda", "davivienda"),
    ("bbva", "bbva"), ("bancoAgrario", "bancoAgrario"),
    ("bancoPopular", "bancoPopular"), ("itau", "itau"),
    ("bancoFinandina", "bancolombia"), ("bancoReservas", "bancoDeBogota"),
    ("gnbSudameris", "gnbSudameris"), ("citiTrust", "citiTrust"),
]
FUND_WORDS = ["renta", "plus", "liquidez", "global", "vista", "balanceado",
              "acciones", "deuda", "corto", "plazo", "dolar", "sostenible",
              "estrategico", "moderado", "conservador", "dinamico"]
MONTHS = {7: ("jul", "julio"), 8: ("ago", "agosto"), 6: ("jun", "junio"),
          9: ("sep", "septiembre"), 5: ("may", "mayo"), 10: ("oct", "octubre")}
LAST_DAY = {5: 31, 6: 30, 7: 31, 8: 31, 9: 30, 10: 31}
# Rating-agency spellings: exact, case/extra-word variants, and
# containment-only forms (FIXTURES §1, calificacion.entidad_calificadora).
AGENCIES = ["Fitch Ratings Colombia", "FITCH", "fitch ratings", "BRC Investor Services",
            "BRC RATINGS - S&P GLOBAL", "Standard & Poor's", "S&P Global",
            "Moody's", "Value and Risk Rating", "DBRS Morningstar", "N/A", ""]
COMP = [("por_activo", "activo", ["CDT", "Bonos", "TES", "Acciones", "Efectivo"]),
        ("por_tipo_de_renta", "tipo", ["Tasa fija", "IPC", "IBR", "DTF"]),
        ("por_sector_economico", "sector", ["Financiero", "Gobierno", "Real"]),
        ("por_pais_emisor", "pais", ["Colombia", "EEUU", "Chile"]),
        ("por_moneda", "moneda", ["COP", "USD"]),
        ("por_calificacion", "calificacion", ["AAA", "AA+", "Nacion", "F1+"])]
HORIZONS = ["ultimo_mes", "ultimos_6_meses", "anio_corrido", "ultimo_anio",
            "ultimos_2_anios", "ultimos_3_anios"]
POLICIES = ["Invierte en bonos, CDT y TES de renta fija",
            "acciones y equity en bolsa de valores",
            "fondo mixto balanceado renta fija y variable diversificado",
            "inversion en inmuebles y activos alternativos",
            "portafolio de liquidez a la vista"]


def _date(rng, month, year=2025):
    """A fecha_corte for `month` in one of the dirty spellings the
    transform parses (Spanish month names, ISO, slash and dash forms)."""
    abbr, full = MONTHS[month]
    d = LAST_DAY[month]
    form = rng.randrange(7)
    yy = str(year)[2:]
    return [f"{abbr}-{yy}", f"{d}-{abbr}-{yy}", f"{full}-{year}", f"{abbr}/{year}",
            f"{year}-{month:02d}-{d}", f"{d}/{month:02d}/{year}",
            f"{d}-{month:02d}-{year}"][form]


def _pct(rng, share):
    """A percentage as ×100, as a decimal, or as text with a comma."""
    form = rng.randrange(4)
    if form == 0:
        return round(share * 100, 2)
    if form == 1:
        return round(share, 4)
    if form == 2:
        return f"{share * 100:.2f}".replace(".", ",") + "%"
    return f"{share * 100:.2f}"


def _shares(rng, n):
    w = [rng.random() + 0.05 for _ in range(n)]
    s = sum(w)
    return [x / s for x in w]


def _fic_doc(rng, name, gestor, month):
    """One raw document and its per-table child row counts."""
    doc = {"fic": {"nombre_fic": name, "gestor": gestor,
                   "custodio": rng.choice(["Cititrust", "BNP Paribas", None, ""]),
                   "fecha_corte": _date(rng, month),
                   "politica_de_inversion": rng.choice(POLICIES)}}
    counts = {"fic": 1, "caracteristicas": 1, "calificacion": 1, "raw_json": 1}
    if rng.random() < 0.9:
        n = rng.randint(1, 4)
        doc["plazo_duracion"] = [{"plazo": f"{30 * i}-{30 * (i + 1)} dias", "participacion": _pct(rng, s)}
                                 for i, s in enumerate(_shares(rng, n))]
        counts["plazo_duracion"] = n
    comp, ncomp = {}, 0
    for field, key, cats in COMP:
        if rng.random() < 0.7:
            k = rng.randint(1, len(cats))
            comp[field] = [{key: c, "participacion": _pct(rng, s)}
                           for c, s in zip(rng.sample(cats, k), _shares(rng, k))]
            ncomp += k
    if comp or rng.random() < 0.5:
        doc["composicion_portafolio"] = comp
    counts["composicion_portafolio"] = ncomp
    valor = rng.choice([round(rng.uniform(1e5, 9e12), 2), f"{rng.randint(1, 999)}.{rng.randint(100, 999)}.{rng.randint(100, 999)}"])
    doc["caracteristicas"] = {"tipo": rng.choice(["Abierto", "Cerrado", "Abierto con pacto"]),
                              "valor": valor,
                              "fecha_inicio_operaciones": rng.choice(["15-agosto-2014", "2019-03-01", "01/02/2010", "no disponible", None]),
                              "no_unidades_en_circulacion": rng.choice([round(rng.uniform(1, 1e6), 2), "1,5", 0.0])}
    doc["calificacion"] = {"calificacion": rng.choice(["AAA", "AA+", "F1+", "A", ""]),
                           "fecha_ultima_calificacion": rng.choice(["31/07/2025", "dic-24", "2024-11-30", None]),
                           "entidad_calificadora": rng.choice(AGENCIES)}
    if rng.random() < 0.85:
        k = rng.randint(1, 5)
        doc["principales_inversiones"] = [{"emisor": f"Emisor {chr(65 + i)}", "participacion": _pct(rng, s * 0.6)}
                                          for i, s in enumerate(_shares(rng, k))]
        counts["principales_inversiones"] = k
    k = rng.choice([0, 1, 1, 2, 3])
    doc["rentabilidad_volatilidad"] = [
        {"tipo_de_participacion": f"Tipo {chr(65 + i)}",
         "rentabilidad_historica_ea": {h: rng.choice([_pct(rng, rng.uniform(-0.1, 0.2)), None]) for h in HORIZONS},
         "volatilidad_historica": {h: _pct(rng, rng.uniform(0, 0.05)) for h in HORIZONS}}
        for i in range(k)]
    counts["rentabilidad_historica"] = k
    counts["volatilidad_historica"] = k
    return doc, counts


FIC_TABLES = ["fic", "composicion_portafolio", "plazo_duracion", "caracteristicas",
              "calificacion", "principales_inversiones", "rentabilidad_historica",
              "volatilidad_historica", "raw_json"]


def fic_etl(out, seed, docs=100, restate=0.5, new=0.1, off_month=0.02,
            lookup_cover=0.85):
    """Two monthly raw folders, fics.json and the expected DB state.

    July holds `docs` funds; August restates `restate` of them with a
    newer fecha_corte and adds `new`·docs new funds. In each folder
    `off_month` of the documents (at least one) carry a fecha_corte
    outside the folder month, so the transform skip-lists them and the
    load leaves them out. The shares are exact, so every seed asks for
    the same amount of work. About `lookup_cover` of the (bank, fund)
    pairs have a fics.json URL, so the URL enrichment pass matches most
    documents.
    """
    rng = random.Random(f"fic_etl:{seed}")
    jul_dir = os.path.join(out, "json_raw_2025_07")
    aug_dir = os.path.join(out, "json_raw_2025_08")
    os.makedirs(jul_dir)
    os.makedirs(aug_dir)
    names = set()

    def new_fund():
        # fund names are unique across banks: nombre_fic is half the
        # upsert key, so a repeat would merge two funds
        while True:
            bank, key = rng.choice(BANKS)
            words = rng.sample(FUND_WORDS, 2)
            fund = words[0] + words[1].capitalize() + str(rng.randint(1, 999))
            if fund not in names:
                names.add(fund)
                return bank, key, fund

    def display(fund):
        return "Fondo de Inversion Colectiva " + fund

    lookup = {}
    expected = {"months": {}}
    live = {}           # nombre_fic -> child counts of the loaded version
    jul_funds = [new_fund() for _ in range(docs)]
    aug_new = [new_fund() for _ in range(int(docs * new))]
    for bank, key, fund in jul_funds + aug_new:
        if rng.random() < lookup_cover:
            lookup.setdefault(key, {})[fund] = f"https://{key.lower()}.example.co/fic/{fund.lower()}"

    def write_month(folder, month, funds):
        valid, replaced, skipped = 0, 0, 0
        offs = set(rng.sample(range(len(funds)), max(1, round(len(funds) * off_month))))
        for i, (bank, key, fund) in enumerate(funds):
            off = i in offs
            doc, counts = _fic_doc(rng, display(fund), bank.upper(),
                                   rng.choice([m for m in MONTHS if m != month]) if off else month)
            with open(os.path.join(folder, f"{bank}_{fund}_raw.json"), "w") as f:
                json.dump(doc, f, ensure_ascii=False, indent=1)
            if off:
                skipped += 1
                continue
            valid += 1
            if display(fund) in live:
                replaced += 1
            live[display(fund)] = counts
        expected["months"][os.path.basename(folder)] = {
            "docs": valid, "replaced": replaced, "skipped": skipped,
            "rows": {t: sum(c.get(t, 0) for c in live.values()) for t in FIC_TABLES}}

    write_month(jul_dir, 7, jul_funds)
    restated = rng.sample(jul_funds, round(docs * restate))
    write_month(aug_dir, 8, restated + aug_new)
    with open(os.path.join(out, "fics.json"), "w") as f:
        json.dump(lookup, f, indent=1, sort_keys=True)
    expected["lookup_pairs"] = sum(len(v) for v in lookup.values())
    expected["docs_total"] = docs + len(restated) + len(aug_new)
    expected["funds"] = len(names)
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    return expected


# --------------------------------------------------------------------------
# drop_epochs and gate_suite share the document generator
# --------------------------------------------------------------------------

VOCAB = ["row", "the", "query", "stream", "fast", "spark", "line", "small",
         "customer", "group", "value", "hash", "batch", "sort", "data", "big",
         "filter", "dup", "key", "agg", "scan", "slow", "table", "part", "a",
         "merge", "window", "order", "column", "join", "vector"]
LANGS = ["en"] * 5 + ["de", "fr", "es", "zh"]


def _text(rng, lo=8, hi=90):
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(lo, hi)))


def _near_dup(rng, text):
    """Copy with about 5% of the words replaced: Jaccard stays well above
    the 0.5 dedup threshold."""
    words = text.split(" ")
    for _ in range(max(1, len(words) // 20)):
        words[rng.randrange(len(words))] = rng.choice(VOCAB)
    return " ".join(words)


SPAN_WORDS = 60


def drop_epochs(out, seed, drops=4, per_drop=300, near_dup=0.05, span=0.05):
    """`drops` JSON-lines files of `per_drop` documents each.

    `near_dup` of the documents of every drop after the first are
    near-copies of a document of an earlier drop, and `span` carry a
    verbatim passage of SPAN_WORDS words quoted from an earlier drop
    (the span index reports spans of 50 or more tokens).
    """
    rng = random.Random(f"drop_epochs:{seed}")
    os.makedirs(out)
    earlier, longs, next_id = [], [], 0
    planted = {"near_dup": 0, "span": 0}
    for d in range(drops):
        lines, this = [], []
        slots = rng.sample(range(per_drop), round(per_drop * (near_dup + span))) if earlier else []
        dups = set(slots[:round(per_drop * near_dup)])
        quotes = set(slots[len(dups):])
        for i in range(per_drop):
            if i in dups:
                text = _near_dup(rng, rng.choice(earlier))
                planted["near_dup"] += 1
            elif i in quotes and longs:
                w = rng.choice(longs).split(" ")
                at = rng.randrange(len(w) - SPAN_WORDS + 1)
                text = _text(rng, 5, 20) + " " + " ".join(w[at:at + SPAN_WORDS]) + " " + _text(rng, 5, 20)
                planted["span"] += 1
            else:
                text = _text(rng)
            lines.append(json.dumps({"doc_id": next_id, "text": text,
                                     "source": f"src{rng.randrange(8)}"}))
            this.append(text)
            next_id += 1
        earlier += this
        longs += [t for t in this if len(t.split(" ")) >= SPAN_WORDS]
        with open(os.path.join(out, f"drop_{d:02d}.jsonl"), "w") as f:
            f.write("\n".join(lines) + "\n")
    meta = {"drops": drops, "docs_per_drop": per_drop,
            "near_dup_share": near_dup, "span_share": span,
            "planted_near_dups": planted["near_dup"], "planted_spans": planted["span"]}
    with open(os.path.join(out, "planted.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    return meta


def _write(path, cols, schema):
    pq.write_table(pa.table(cols, schema=schema), path, compression="snappy")


def corpus(out, seed, scale=1.0):
    """The ten parquet tables of the operator gates' TPC-H-ish corpus.
    `scale` 1.0 gives 60,000 lineitem rows and 500 documents."""
    rng = random.Random(f"gate_suite:{seed}")
    os.makedirs(out)
    i32, i64, f64, s, ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")
    _write(f"{out}/region.parquet",
           {"r_regionkey": list(range(5)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
           pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(f"{out}/nation.parquet",
           {"n_nationkey": list(range(25)), "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": [i % 5 for i in range(25)]},
           pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))
    nc, ns, np_, no = int(1500 * scale), max(10, int(100 * scale)), int(2000 * scale), int(15000 * scale)
    _write(f"{out}/customer.parquet",
           {"c_custkey": list(range(nc)), "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": [rng.randrange(25) for _ in range(nc)],
            "c_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(nc)],
            "c_mktsegment": [rng.choice(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]) for _ in range(nc)]},
           pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32), ("c_acctbal", f64), ("c_mktsegment", s)]))
    _write(f"{out}/supplier.parquet",
           {"s_suppkey": list(range(ns)), "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": [rng.randrange(25) for _ in range(ns)],
            "s_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(ns)]},
           pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)]))
    adj = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
    noun = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"]
    _write(f"{out}/part.parquet",
           {"p_partkey": list(range(np_)),
            "p_name": [f"{rng.choice(adj)} {rng.choice(noun)}" for _ in range(np_)],
            "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in range(np_)],
            "p_type": [rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]) for _ in range(np_)],
            "p_size": [rng.randint(1, 50) for _ in range(np_)],
            "p_retailprice": [round(rng.uniform(900, 999.9), 1) for _ in range(np_)]},
           pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s), ("p_size", i32), ("p_retailprice", f64)]))
    import datetime as dt
    day0 = dt.datetime(1995, 1, 1)
    odates = [day0 + dt.timedelta(days=rng.randrange(2400)) for _ in range(no)]
    _write(f"{out}/orders.parquet",
           {"o_orderkey": list(range(no)), "o_custkey": [rng.randrange(nc) for _ in range(no)],
            "o_orderstatus": [rng.choice("OFP") for _ in range(no)],
            "o_totalprice": [round(rng.uniform(1000, 500000), 2) for _ in range(no)],
            "o_orderdate": odates,
            "o_orderpriority": [rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]) for _ in range(no)]},
           pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s), ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)]))
    li = {k: [] for k in ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity", "l_extendedprice",
                          "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"]}
    for _ in range(no * 4):
        o = rng.randrange(no)
        q = float(rng.randint(1, 50))
        li["l_orderkey"].append(o)
        li["l_partkey"].append(rng.randrange(np_))
        li["l_suppkey"].append(rng.randrange(ns))
        li["l_linenumber"].append(rng.randint(1, 7))
        li["l_quantity"].append(q)
        li["l_extendedprice"].append(round(q * rng.uniform(900, 2100), 2))
        li["l_discount"].append(rng.randint(0, 10) / 100)
        li["l_tax"].append(rng.randint(0, 8) / 100)
        li["l_returnflag"].append(rng.choice("ANR"))
        li["l_linestatus"].append(rng.choice("OF"))
        li["l_shipdate"].append(odates[o] + dt.timedelta(days=rng.randint(1, 120)))
    _write(f"{out}/lineitem.parquet", li,
           pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64), ("l_linenumber", i32),
                      ("l_quantity", f64), ("l_extendedprice", f64), ("l_discount", f64), ("l_tax", f64),
                      ("l_returnflag", s), ("l_linestatus", s), ("l_shipdate", ts)]))
    ne = int(10000 * scale)
    t0 = dt.datetime(2024, 1, 1)
    _write(f"{out}/events.parquet",
           {"event_id": list(range(ne)),
            "ts": [t0 + dt.timedelta(microseconds=rng.randrange(30 * 86400 * 10**6)) for _ in range(ne)],
            "user_id": [rng.randrange(150) for _ in range(ne)],
            "event_type": [rng.choice(["click", "signup", "error", "view", "purchase"]) for _ in range(ne)],
            "value": [round(rng.uniform(0.01, 490), 2) for _ in range(ne)],
            "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(ne)]},
           pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s), ("value", f64), ("props", s)]))
    nd = int(500 * max(scale, 1.0))
    texts = []
    for i in range(nd):
        texts.append(_near_dup(rng, rng.choice(texts)) if texts and rng.random() < 0.05 else _text(rng))
    _write(f"{out}/documents.parquet",
           {"doc_id": list(range(nd)), "text": texts, "lang": [rng.choice(LANGS) for _ in range(nd)],
            "source": [f"src{rng.randrange(20)}" for _ in range(nd)], "n_chars": [len(t) for t in texts]},
           pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)]))
    centers = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(10)]
    vecs, labels = [], []
    for i in range(nd):
        lab = rng.randrange(10)
        v = [c + rng.gauss(0, 0.8) for c in centers[lab]]
        n = sum(x * x for x in v) ** 0.5
        vecs.append([x / n for x in v])
        labels.append(lab)
    _write(f"{out}/embeddings.parquet",
           {"vec_id": list(range(nd)), "embedding": vecs, "label": labels},
           pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)]))
