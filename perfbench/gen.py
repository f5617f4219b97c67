"""Seeded, vectorised input generators for the workloads.

Every generator is a pure function of its seed and size arguments: the
same seed writes byte-identical files. The program under test only ever
receives the files (or arrays) made here, and generation is never inside
a timed region.

- ``census_inputs``: INEP-shaped, all-string, pipe-delimited CSVs with
  StructType sidecars and a ``maps.json``; returns the planted expectations
  (row counts and decoded-NULL counts per table and year).
- ``corpus_docs``: multilingual documents with planted exact duplicates,
  near-duplicates, boilerplate lines and documents that fail the quality
  gate.
- ``vector_stream``: clustered embedding vectors (base set, ingest batches,
  query batches).
- ``star_tables``: the TPC-H-shaped star schema plus the ``events`` table
  the ``q*``/``e*`` registry queries read.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# ---------------------------------------------------------------- census

REGIONS = ("co", "nordeste", "norte", "sudeste", "sul")
N_MUNICIPIOS = 5570  # above BROADCAST_DECODE_THRESHOLD: broadcast-join decode

#: Small code→label dictionaries (inline ``create_map`` decode path).
SMALL_MAPS = {
    "TP_SEXO": {"1": "Masculino", "2": "Feminino"},
    "TP_COR_RACA": {str(i): f"Cor {i}" for i in range(6)},
    "TP_DEPENDENCIA": {"1": "Federal", "2": "Estadual", "3": "Municipal", "4": "Privada"},
    "TP_LOCALIZACAO": {"1": "Urbana", "2": "Rural"},
    "TP_SITUACAO_FUNCIONAMENTO": {str(i): f"Situacao {i}" for i in range(1, 5)},
    "TP_ETAPA_ENSINO": {str(i): f"Etapa {i}" for i in range(1, 41)},
    "TP_ESCOLARIDADE": {str(i): f"Escolaridade {i}" for i in range(1, 5)},
    "TP_CARGO_GESTOR": {"1": "Diretor", "2": "Outro"},
    "TP_NACIONALIDADE": {"1": "Brasileira", "2": "Naturalizada", "3": "Estrangeira"},
    "CO_UF": {str(11 + i): f"UF {i}" for i in range(27)},
}

#: Column kinds: ``id`` sequential, ``year``, ``code:<MAP>`` (decoded,
#: planted misses), ``flag`` (IN_, planted invalid), ``int`` (NU_/QT_,
#: planted malformed), ``date`` (DT_, year-dependent format, planted
#: malformed), ``text`` (pass-through).
_COMMON = [
    ("NU_ANO_CENSO", "year"),
    ("CO_ENTIDADE", "int"),
    ("CO_MUNICIPIO", "code:CO_MUNICIPIO"),
    ("CO_UF", "code:CO_UF"),
    ("TP_LOCALIZACAO", "code:TP_LOCALIZACAO"),
    ("TP_DEPENDENCIA", "code:TP_DEPENDENCIA"),
]
TABLES: dict[str, list[tuple[str, str]]] = {
    "escolas": _COMMON
    + [
        ("NO_ENTIDADE", "text"),
        ("TP_SITUACAO_FUNCIONAMENTO", "code:TP_SITUACAO_FUNCIONAMENTO"),
        ("DT_ANO_LETIVO_INICIO", "date"),
        ("DT_ANO_LETIVO_TERMINO", "date"),
        ("IN_AGUA_POTAVEL", "flag"),
        ("IN_ENERGIA_REDE_PUBLICA", "flag"),
        ("IN_MANT_ESCOLA_PRIVADA_ONG", "flag"),
        ("IN_MANT_ESCOLA_PRIVADA_OSCIP", "flag"),
        ("IN_ESGOTO_FOSSA_SEPTICA", "flag"),
        ("IN_ESGOTO_FOSSA_COMUM", "flag"),
        ("IN_ALOJAM_ALUNO", "flag"),
        ("IN_ALOJAM_PROFESSOR", "flag"),
        ("CO_LINGUA_INDIGENA", "text"),
        ("QT_SALAS_UTILIZADAS", "int"),
        ("QT_FUNCIONARIOS", "int"),
    ],
    "turmas": _COMMON
    + [
        ("ID_TURMA", "id"),
        ("TP_ETAPA_ENSINO", "code:TP_ETAPA_ENSINO"),
        ("NU_DURACAO_TURMA", "int"),
        ("QT_MATRICULAS", "int"),
        ("IN_ESPECIAL_EXCLUSIVA", "flag"),
        ("IN_REGULAR", "flag"),
    ],
    "gestores": _COMMON
    + [
        ("ID_GESTOR", "id"),
        ("TP_CARGO_GESTOR", "code:TP_CARGO_GESTOR"),
        ("TP_SEXO", "code:TP_SEXO"),
        ("TP_COR_RACA", "code:TP_COR_RACA"),
        ("NU_IDADE", "int"),
        ("TP_ESCOLARIDADE", "code:TP_ESCOLARIDADE"),
    ],
    "matricula": _COMMON
    + [
        ("ID_MATRICULA", "id"),
        ("ID_ALUNO", "text"),
        ("ID_TURMA", "int"),
        ("TP_SEXO", "code:TP_SEXO"),
        ("TP_COR_RACA", "code:TP_COR_RACA"),
        ("TP_NACIONALIDADE", "code:TP_NACIONALIDADE"),
        ("TP_ETAPA_ENSINO", "code:TP_ETAPA_ENSINO"),
        ("NU_IDADE", "int"),
        ("NU_IDADE_REFERENCIA", "int"),
        ("IN_TRANSPORTE_PUBLICO", "flag"),
        ("IN_NECESSIDADE_ESPECIAL", "flag"),
        ("IN_BAIXA_VISAO", "flag"),
        ("IN_SURDEZ", "flag"),
        ("CO_MUNICIPIO_NASC", "text"),
    ],
    "docentes": _COMMON
    + [
        ("ID_DOCENTE", "id"),
        ("TP_SEXO", "code:TP_SEXO"),
        ("TP_COR_RACA", "code:TP_COR_RACA"),
        ("TP_ESCOLARIDADE", "code:TP_ESCOLARIDADE"),
        ("NU_IDADE", "int"),
        ("IN_ESPECIALIZACAO", "flag"),
        ("IN_MESTRADO", "flag"),
        ("IN_DOUTORADO", "flag"),
        ("QT_TURMAS", "int"),
    ],
}
SHARDED = ("matricula", "docentes")

#: Columns whose decoded NULL count the output check compares with the
#: planted misses: one per decode path (broadcast join, inline map, flag,
#: try_cast, both date formats).
CHECKED_NULLS = {
    "escolas": ("CO_MUNICIPIO", "TP_SITUACAO_FUNCIONAMENTO", "IN_AGUA_POTAVEL",
                "QT_SALAS_UTILIZADAS", "DT_ANO_LETIVO_INICIO"),
    "turmas": ("CO_MUNICIPIO", "TP_ETAPA_ENSINO", "QT_MATRICULAS"),
    "gestores": ("CO_MUNICIPIO", "TP_CARGO_GESTOR", "NU_IDADE"),
    "matricula": ("CO_MUNICIPIO", "TP_SEXO", "IN_TRANSPORTE_PUBLICO", "NU_IDADE"),
    "docentes": ("CO_MUNICIPIO", "TP_ESCOLARIDADE", "IN_MESTRADO", "NU_IDADE"),
}

#: Share of cells planted as misses (unmapped code, invalid flag,
#: malformed integer or date, or empty).
MISS_RATE = 0.02
_MONTHS = np.array(["JAN", "FEB", "MAR", "APR", "MAY", "JUN",
                    "JUL", "AUG", "SEP", "OCT", "NOV", "DEC"])


def census_maps() -> dict[str, dict[str, str]]:
    maps = dict(SMALL_MAPS)
    maps["CO_MUNICIPIO"] = {
        str(1100000 + 7 * i): f"Municipio {i}" for i in range(N_MUNICIPIOS)
    }
    return maps


def _census_column(rng, kind: str, n: int, year: int, start: int,
                   maps) -> tuple[np.ndarray, int]:
    """One all-string column of ``n`` cells plus its planted NULL count
    after decoding (0 for pass-through kinds)."""
    if kind == "year":
        return np.full(n, str(year), dtype=object), 0
    if kind == "id":
        return np.arange(start, start + n).astype(str).astype(object), 0
    miss = rng.random(n) < MISS_RATE
    if kind == "text":
        vals = np.char.add("v", rng.integers(0, 10**6, n).astype(str))
        return vals.astype(object), 0
    if kind.startswith("code:"):
        keys = np.array(list(maps[kind[5:]]), dtype=object)
        vals = keys[rng.integers(0, len(keys), n)]
        vals[miss] = "999999999"  # a code no dictionary has
    elif kind == "flag":
        vals = np.where(rng.random(n) < 0.5, "0", "1").astype(object)
        vals[miss] = "9"
    elif kind == "int":
        vals = rng.integers(0, 100, n).astype(str).astype(object)
        vals[miss] = "x"
    elif kind == "date":
        day = rng.integers(1, 29, n)
        month = rng.integers(1, 13, n)
        if year > 2014:  # dd/MM/yyyy
            vals = np.char.add(np.char.add(np.char.zfill(day.astype(str), 2), "/"),
                               np.char.zfill(month.astype(str), 2))
            vals = np.char.add(vals, f"/{year}").astype(object)
        else:  # SAS ddMMMyyyy:HH:mm:ss
            vals = np.char.add(np.char.zfill(day.astype(str), 2), _MONTHS[month - 1])
            vals = np.char.add(vals, f"{year}:00:00:00").astype(object)
        vals[miss] = "31XYZ2000"
    else:
        raise ValueError(kind)
    empty = rng.random(n) < MISS_RATE / 2
    vals[empty] = None
    return vals, int((miss | empty).sum())


def _write_csv(path: str, cols: list[str], data: list[np.ndarray]) -> int:
    table = pa.table({c: pa.array(d, type=pa.string()) for c, d in zip(cols, data)})
    pacsv.write_csv(
        table, path,
        write_options=pacsv.WriteOptions(delimiter="|", quoting_style="none"),
    )
    return os.path.getsize(path)


def census_inputs(root: str, seed: int, *, years=(2013, 2020), shard_rows=2000,
                  small_rows=1000) -> dict:
    """Write ``<root>/raw/<year>/*.csv`` and ``<root>/sidecars`` for the
    census job. Returns ``{"rows": {(table, year): n}, "nulls": {(table,
    year): {col: n}}, "bytes": n}`` — the planted truth the output check
    compares with."""
    rng = np.random.default_rng(seed)
    maps = census_maps()
    side = os.path.join(root, "sidecars")
    os.makedirs(os.path.join(side, "schemas"), exist_ok=True)
    with open(os.path.join(side, "maps.json"), "w", encoding="utf-8") as f:
        json.dump(maps, f)
    for table, cols in TABLES.items():
        schema = {"type": "struct", "fields": [
            {"name": c, "type": "string", "nullable": True, "metadata": {}}
            for c, _ in cols]}
        with open(os.path.join(side, "schemas", f"{table}_schema.json"), "w") as f:
            json.dump(schema, f)
    rows: dict = {}
    nulls: dict = {}
    total_bytes = 0
    for year in years:
        ydir = os.path.join(root, "raw", str(year))
        os.makedirs(ydir, exist_ok=True)
        for table, cols in TABLES.items():
            if table == "gestores" and year <= 2018:
                continue
            files = ([f"{table}_{r}.csv" for r in REGIONS] if table in SHARDED
                     else [f"{table}.csv"])
            n = shard_rows if table in SHARDED else small_rows
            planted = {c: 0 for c in CHECKED_NULLS[table]}
            start = 0
            for name in files:
                data = []
                for col, kind in cols:
                    vals, misses = _census_column(rng, kind, n, year, start, maps)
                    data.append(vals)
                    if col in planted:
                        planted[col] += misses
                total_bytes += _write_csv(os.path.join(ydir, name), [c for c, _ in cols], data)
                start += n
            rows[(table, year)] = n * len(files)
            nulls[(table, year)] = planted
    return {"rows": rows, "nulls": nulls, "bytes": total_bytes, "years": list(years)}


# ---------------------------------------------------------------- corpus

LANGS = ("en", "de", "fr", "es", "pt", "zh")
_SYLLABLES = {
    "en": "th er on an re he in ed nd ha at en es of or nt ea ti to it st",
    "de": "en er ch de ei ie in te ge un st be sch ten ver die der",
    "fr": "es le de en on nt re ou ai la qu me eu an ment tion",
    "es": "de la el en es os ar ra ad an co ci do ta que ion",
    "pt": "de os ao em ra ar co do ta se nh lh cao mente para",
    "zh": "zh ong guo shi de yi ren wo ta men hao xue sheng",
}
VOCAB_SIZE = 400
BOILERPLATE = (
    "Copyright reserved by the publisher",
    "We use cookie banners on this site",
    "Subscribe to our newsletter today",
    "Read the terms of service before use",
)


def _vocab(lang: str) -> np.ndarray:
    """Alphabetic words built from the language's syllables (fixed, not
    seeded: the vocabulary is part of the workload definition)."""
    rng = np.random.default_rng(sum(map(ord, lang)))
    syl = np.array(_SYLLABLES[lang].split())
    words: set[str] = set()
    while len(words) < VOCAB_SIZE:
        k = int(rng.integers(2, 5))
        words.add("".join(rng.choice(syl, k)))
    return np.array(sorted(words))


def corpus_docs(seed: int, n_docs: int) -> tuple[pa.Table, dict]:
    """``n_docs`` documents ``(doc_id, text, lang)``. Returns the table and
    the planted truth: exact-duplicate ids (each a copy of a lower id),
    near-duplicate ids and quality-gate failures."""
    rng = np.random.default_rng(seed)
    vocabs = {lang: _vocab(lang) for lang in LANGS}
    ranks = np.arange(VOCAB_SIZE)
    zipf = 1.0 / (ranks + 10.0)
    zipf /= zipf.sum()
    n_exact = n_docs // 20
    n_near = n_docs // 20
    n_bad = n_docs // 10
    n_base = n_docs - n_exact - n_near
    lang_idx = rng.integers(0, len(LANGS), n_base)
    lengths = rng.integers(30, 120, n_base)
    tok = rng.choice(VOCAB_SIZE, size=int(lengths.sum()), p=zipf)
    cuts = np.cumsum(lengths)[:-1]
    texts: list[str] = []
    bad = set(rng.choice(n_base, n_bad, replace=False).tolist())
    has_boiler = rng.random(n_base) < 0.3
    for i, (li, ids) in enumerate(zip(lang_idx, np.split(tok, cuts))):
        words = vocabs[LANGS[li]][ids]
        if i in bad:  # fails the gate: too short, or a table of numbers
            if i % 2:
                words = words[:5]
            else:
                words = rng.integers(1000, 99999, len(words)).astype(str)
        lines = [" ".join(words[j:j + 15]) for j in range(0, len(words), 15)]
        if has_boiler[i]:
            lines.insert(int(rng.integers(0, len(lines) + 1)),
                         BOILERPLATE[i % len(BOILERPLATE)])
        texts.append("\n".join(lines))
    langs = [LANGS[li] for li in lang_idx]
    src_exact = rng.choice(n_base, n_exact, replace=False)
    src_near = rng.choice(n_base, n_near, replace=False)
    for s in src_exact:
        texts.append(texts[s])
        langs.append(langs[s])
    for s in src_near:  # swap ~3% of tokens for another word of the language
        toks = texts[s].split(" ")
        flip = rng.random(len(toks)) < 0.03
        voc = vocabs[langs[s]]
        for j in np.flatnonzero(flip):
            toks[j] = voc[int(rng.integers(0, VOCAB_SIZE))]
        texts.append(" ".join(toks))
        langs.append(langs[s])
    ids = np.arange(n_docs, dtype=np.int64)
    table = pa.table({"doc_id": ids, "text": texts, "lang": langs})
    truth = {
        "exact_dup_ids": list(range(n_base, n_base + n_exact)),
        "gate_failures": len(bad),
        "docs": n_docs,
    }
    return table, truth


# ---------------------------------------------------------------- vectors

def vector_stream(seed: int, *, dim: int, n_base: int, n_batches: int,
                  batch: int, queries: int, probes_per_batch: int = 1,
                  clusters: int = 24):
    """Clustered vectors: ``base`` (the index at set-up), ``batches`` of
    new vectors (one per ingest step) and query batches
    (``probes_per_batch`` per ingest step)."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(clusters, dim))

    def draw(n):
        c = rng.integers(0, clusters, n)
        return centers[c] + 0.6 * rng.normal(size=(n, dim))

    base = draw(n_base)
    batches = [draw(batch) for _ in range(n_batches)]
    qs = [draw(queries) for _ in range(n_batches * probes_per_batch)]
    return base, batches, qs


def vector_table(ids: np.ndarray, vecs: np.ndarray) -> pa.Table:
    flat = pa.array(vecs.astype(np.float32).ravel())
    emb = pa.FixedSizeListArray.from_arrays(flat, vecs.shape[1]).cast(
        pa.list_(pa.float32()))
    return pa.table({"vec_id": pa.array(ids, pa.int64()), "embedding": emb})


# ------------------------------------------------------------ star schema

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_DAY_US = 86_400_000_000


def _pick(rng, values, n):
    return pa.array(np.array(values, dtype=object)[rng.integers(0, len(values), n)],
                    pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, start: str, days: int, n) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    us = base + rng.integers(0, days, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def star_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write region/nation/customer/supplier/part/orders/lineitem/events
    parquet files shaped like the registry's test data at scale ``sf``
    (sf=0.01: 60k lineitems). Returns the row count per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    i64 = lambda a: pa.array(a, pa.int64())  # noqa: E731
    tables = {
        "region": pa.table({"r_regionkey": i32(np.arange(5)), "r_name": _REGIONS}),
        "nation": pa.table({
            "n_nationkey": i32(np.arange(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": i32(np.arange(25) % 5)}),
        "customer": pa.table({
            "c_custkey": i64(np.arange(n_cust)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust)}),
        "supplier": pa.table({
            "s_suppkey": i64(np.arange(n_supp)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
        "part": pa.table({
            "p_partkey": i64(np.arange(n_part)),
            "p_name": pa.array(np.char.add(
                np.char.add(np.array(_ADJ)[rng.integers(0, 8, n_part)], " "),
                np.array(_NOUN)[rng.integers(0, 8, n_part)]).astype(object), pa.string()),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, _TYPES, n_part),
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)}),
        "orders": pa.table({
            "o_orderkey": i64(np.arange(n_ord)),
            "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _dates(rng, "1995-01-01", 2404, n_ord),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord)}),
        "lineitem": pa.table({
            "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
            "l_partkey": i64(rng.integers(0, n_part, n_line)),
            "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
            "l_linenumber": i32(rng.integers(1, 8, n_line)),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _dates(rng, "1995-01-02", 2498, n_line)}),
    }
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev)) + np.datetime64(
        "2024-01-01", "us").astype(np.int64)
    tables["events"] = pa.table({
        "event_id": i64(np.arange(n_ev)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": i64(rng.integers(0, n_users, n_ev)),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
