"""Seeded input generators for the benchmark.

Everything the engine reads in a benchmark run is written here from the
run's ``--seed``: the same seed gives byte-identical files.

- ``write_seeds``: the three dimension seed CSVs at the reference
  cardinalities (5,571 municipalities, 2,812 CBO-2002 codes, 12,477 ICD-10
  subcategories).
- ``write_landing_day``: one ``;``-separated SINASC / SIM / SIH landing
  day, ``{landing}/{dataset}/dt={day}/part-0.csv``, with the malformed
  shares of the SUS extracts (about 2% bad event dates, 5% bad hours, null
  or blank codes), and the counts the engine must keep from it.
- ``write_tpch``: TPC-H-shaped Parquet tables (region .. lineitem) with the
  value domains of the engine's synthetic star schema.
- ``write_corpus``: one part file each of the ``documents`` and
  ``embeddings`` corpus tables (same columns and value domains as the
  engine's synthetic corpus); a later part is an append.
"""

from __future__ import annotations

import csv
import os
import random
from dataclasses import dataclass
from datetime import date, timedelta
from decimal import Decimal
from itertools import accumulate

N_MUNICIPIOS = 5571
N_CBO = 2812
N_CID = 12477

UFS = [
    ("RO", "Rondônia", "Norte"), ("AC", "Acre", "Norte"), ("AM", "Amazonas", "Norte"),
    ("RR", "Roraima", "Norte"), ("PA", "Pará", "Norte"), ("AP", "Amapá", "Norte"),
    ("TO", "Tocantins", "Norte"), ("MA", "Maranhão", "Nordeste"), ("PI", "Piauí", "Nordeste"),
    ("CE", "Ceará", "Nordeste"), ("RN", "Rio Grande do Norte", "Nordeste"),
    ("PB", "Paraíba", "Nordeste"), ("PE", "Pernambuco", "Nordeste"),
    ("AL", "Alagoas", "Nordeste"), ("SE", "Sergipe", "Nordeste"), ("BA", "Bahia", "Nordeste"),
    ("MG", "Minas Gerais", "Sudeste"), ("ES", "Espírito Santo", "Sudeste"),
    ("RJ", "Rio de Janeiro", "Sudeste"), ("SP", "São Paulo", "Sudeste"),
    ("PR", "Paraná", "Sul"), ("SC", "Santa Catarina", "Sul"),
    ("RS", "Rio Grande do Sul", "Sul"), ("MS", "Mato Grosso do Sul", "Centro-Oeste"),
    ("MT", "Mato Grosso", "Centro-Oeste"), ("GO", "Goiás", "Centro-Oeste"),
    ("DF", "Distrito Federal", "Centro-Oeste"),
]
# The three health regions the reference drill-across filters on.
REFERENCE_HEALTH_REGIONS = ["Coração do DRS III", "Central do DRS III", "Rio Claro"]
N_HEALTH_REGIONS = 450
# Municipalities are ranked by population, and city sizes follow Zipf's law
# with an exponent close to 1 (Gabaix, "Zipf's law for cities", QJE 1999):
# events are drawn in proportion to population, and so are the cities
# dashboard users look up.
POPULATION_ZIPF_S = 1.0
CHAPTERS = ["I", "II", "III", "IV", "V", "VI", "VII", "VIII", "IX", "X", "XI", "XII",
            "XIII", "XIV", "XV", "XVI", "XVII", "XVIII", "XIX", "XX", "XXI", "XXII"]

DATASETS = ("sinasc", "sim", "sih")


@dataclass(frozen=True)
class Seeds:
    """Paths of the seed CSVs plus the codes the landing generator draws."""

    paths: dict[str, str]
    mun_codes: list[int]        # 7-digit IBGE codes, most populous first
    mun_names: list[str]        # same order
    cbo_codes: list[str]
    cid_codes: list[str]


@dataclass
class DayCounts:
    """What the engine must keep from one landing day (by construction)."""

    raw_rows: int
    kept_rows: int          # rows whose event date parses
    procedures: int = 0     # SIH: SUM(quantidade_procedimentos) of kept rows
    valor: Decimal = Decimal("0.00")  # SIH: SUM(valor) of kept rows
    raw_bytes: int = 0


def zipf_cum_weights(n: int, s: float = 1.0) -> list[float]:
    """Cumulative Zipf(s) weights over ranks 1..n, for ``Random.choices``."""
    return list(accumulate(1.0 / (i + 1) ** s for i in range(n)))


def _write_csv(path: str, header: list[str], rows, sep: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, delimiter=sep, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)
    return os.path.getsize(path)


def write_seeds(out_dir: str, seed: int) -> Seeds:
    rng = random.Random(f"seeds-{seed}")
    # Municipalities: unique 6-digit prefixes (the engine joins on
    # floor(code / 10)), a check digit, one capital per UF.
    regions = REFERENCE_HEALTH_REGIONS + [
        f"Região de Saúde {i:03d}" for i in range(N_HEALTH_REGIONS - 3)
    ]
    per_uf = [N_MUNICIPIOS // len(UFS)] * len(UFS)
    for i in range(N_MUNICIPIOS - sum(per_uf)):
        per_uf[i] += 1
    mun_rows = []
    for u, (sigla, nome_uf, regiao) in enumerate(UFS):
        uf_code = 11 + u
        for j in range(per_uf[u]):
            code6 = uf_code * 10000 + j * 3 + rng.randrange(3)
            mun_rows.append([
                str(code6 * 10 + rng.randrange(10)),
                f"{sigla} Município {j:04d}",
                "1" if j == 0 else "0",
                regions[rng.randrange(len(regions))],
                f"RM {sigla}" if j < 10 else "",
                sigla, nome_uf, regiao,
            ])
    # Population order: capitals first, then a seeded shuffle.
    order = list(range(len(mun_rows)))
    rng.shuffle(order)
    order.sort(key=lambda i: mun_rows[i][2] != "1")
    pop = [mun_rows[i] for i in order]

    cbo_rows = []
    codes = rng.sample(range(10000, 1000000), N_CBO)
    for c in sorted(codes):
        code = f"{c:06d}"
        fam = code[:4]
        cbo_rows.append([
            code, f"Ocupação {code}", fam, f"Família {fam[:3]}", code[:3],
            f"Subgrupo {code[:3]}", code[:2], f"Subgrupo principal {code[:2]}",
            code[0], f"Grande grupo {code[0]}", "1",
        ])

    cid_rows = []
    letters = "ABCDEFGHIJKLMNOPQRSTUVWYZ"  # no 'X': the engine strips a trailing X
    space = [f"{l}{n:03d}" for l in letters for n in range(1000)]
    for code in sorted(rng.sample(space, N_CID)):
        chap = CHAPTERS[(ord(code[0]) - 65) % len(CHAPTERS)]
        cid_rows.append([
            code, f"Causa {code}", code[:3], f"Categoria {code[:3]}", chap,
            f"Capítulo {chap}", "1" if code[0] in "VWY" else "0",
            "1" if code[:2] == "T4" else "0", "0",
        ])

    paths = {
        "municipio": os.path.join(out_dir, "municipio.csv"),
        "ocupacao": os.path.join(out_dir, "cbo.csv"),
        "causa": os.path.join(out_dir, "cid10.csv"),
    }
    _write_csv(paths["municipio"], ["id_municipio", "nome", "capital_uf",
               "nome_regiao_saude", "nome_regiao_metropolitana", "sigla_uf", "nome_uf",
               "nome_regiao"], mun_rows, ",")
    _write_csv(paths["ocupacao"], ["cbo_2002", "descricao", "familia", "descricao_familia",
               "subgrupo", "descricao_subgrupo", "subgrupo_principal",
               "descricao_subgrupo_principal", "grande_grupo", "descricao_grande_grupo",
               "indicador_cbo_2002_ativa"], cbo_rows, ",")
    _write_csv(paths["causa"], ["subcategoria", "descricao_subcategoria", "categoria",
               "descricao_categoria", "capitulo", "descricao_capitulo", "causa_violencia",
               "causa_overdose", "cid_datasus"], cid_rows, ",")
    return Seeds(
        paths=paths,
        mun_codes=[int(r[0]) for r in pop],
        mun_names=[r[1] for r in pop],
        cbo_codes=[r[0] for r in cbo_rows],
        cid_codes=[r[0] for r in cid_rows],
    )


# Malformed ddMMyyyy values: every one fails to parse (empty, impossible
# day/month, wrong layout, letters).
BAD_DATES = ["", "31022023", "32132020", "2024-01-15", "ABCDEFGH", "00000000"]
BAD_HOURS = ["", "2360", "9999", "7", "12a0", "24"]


class _Rows:
    """Per-day value drawing shared by the three datasets."""

    def __init__(self, seeds: Seeds, rng: random.Random, years: tuple[int, int]):
        self.s, self.r = seeds, rng
        self.mun_w = zipf_cum_weights(len(seeds.mun_codes), POPULATION_ZIPF_S)
        self.cid_w = zipf_cum_weights(len(seeds.cid_codes), 1.2)
        self.cbo_w = zipf_cum_weights(len(seeds.cbo_codes), 1.2)
        d0, d1 = date(years[0], 1, 1), date(years[1], 12, 31)
        self.d0, self.span = d0, (d1 - d0).days + 1

    def event_date(self) -> tuple[str, bool]:
        if self.r.random() < 0.02:
            return self.r.choice(BAD_DATES), False
        d = self.d0 + timedelta(days=self.r.randrange(self.span))
        return d.strftime("%d%m%Y"), True

    def any_date(self) -> str:
        return (date(1930, 1, 1) + timedelta(days=self.r.randrange(33000))).strftime("%d%m%Y")

    def hour(self) -> str:
        if self.r.random() < 0.05:
            return self.r.choice(BAD_HOURS)
        return f"{self.r.randrange(24):02d}{self.r.randrange(60):02d}"

    def mun(self) -> str:
        x = self.r.random()
        if x < 0.015:
            return ""
        if x < 0.03:
            return "  "
        return str(self.r.choices(self.s.mun_codes, cum_weights=self.mun_w)[0])

    def code(self, domain: str, null_share: float = 0.05) -> str:
        return "" if self.r.random() < null_share else self.r.choice(domain)

    def cid(self) -> str:
        c = self.r.choices(self.s.cid_codes, cum_weights=self.cid_w)[0]
        x = self.r.random()
        if x < 0.05:
            return "*" + c
        if x < 0.08:
            return c[:3] + "X"  # category-level code, trailing X stripped by the engine
        return c

    def cbo(self) -> str:
        x = self.r.random()
        if x < 0.05:
            return ""
        if x < 0.08:
            return "999999"  # unknown occupation -> sentinel
        c = self.r.choices(self.s.cbo_codes, cum_weights=self.cbo_w)[0]
        return f" {c} " if x < 0.1 else c


def _sinasc(g: _Rows, n: int, counts: DayCounts):
    r = g.r
    for _ in range(n):
        dt, ok = g.event_date()
        counts.kept_rows += ok
        idade = "" if r.random() < 0.02 else str(r.randint(10, 55))
        peso = "" if r.random() < 0.02 else str(r.randint(300, 6000))
        yield [dt, g.hour(), g.mun(), g.mun(), idade, g.code("123459"), g.code("123459"),
               g.code("123459"), g.code("12", 0.01), g.code("12345"), peso,
               g.code("12"), g.code("123456"), g.code("123")]


def _sim(g: _Rows, n: int, counts: DayCounts):
    r = g.r
    for _ in range(n):
        dt, ok = g.event_date()
        counts.kept_rows += ok
        # Coded age: unit digit 4 = years, 5 = 100+ years, 2/3 = under a year.
        idade = ("" if r.random() < 0.02 else
                 r.choice("444523") + f"{r.randrange(100):02d}")
        lines = [g.cid() if r.random() < p else "" for p in (0.95, 0.6, 0.3, 0.1)]
        part2 = ("" if r.random() < 0.6 else
                 "".join("*" + g.cid().lstrip("*") for _ in range(r.randint(1, 3))))
        yield [dt, g.any_date(), g.hour(), g.code("12MFI", 0.01), g.code("12345"),
               g.code("12345"), g.code("12345"), idade, *lines, part2, g.mun(), g.mun(), g.cbo()]


def _sih(g: _Rows, n: int, counts: DayCounts):
    r = g.r
    for _ in range(n):
        dt, ok = g.event_date()
        out = "" if r.random() < 0.1 else g.any_date()
        qt = "" if r.random() < 0.02 else str(r.randint(1, 9))
        cents = r.randint(1000, 5_000_000)
        val = "" if r.random() < 0.01 else f"{cents // 100}.{cents % 100:02d}"
        if ok:
            counts.kept_rows += 1
            counts.procedures += int(qt) if qt else 1
            counts.valor += Decimal(val) if val else Decimal("0.00")
        yield [dt, out, g.mun(), g.cid(), g.cid() if r.random() < 0.5 else "", g.cbo(), val, qt]


HEADERS = {
    "sinasc": ["DTNASC", "HORANASC", "CODMUNNASC", "CODMUNRES", "IDADEMAE", "RACACORMAE",
               "ESCMAE", "ESTCIVMAE", "SEXO", "RACACOR", "PESO", "PARTO", "GESTACAO",
               "GRAVIDEZ"],
    "sim": ["DTOBITO", "DTNASC", "HORAOBITO", "SEXO", "RACACOR", "ESTCIV", "ESC", "IDADE",
            "LINHAA", "LINHAB", "LINHAC", "LINHAD", "LINHAII", "CODMUNRES", "CODMUNOCOR",
            "OCUP"],
    "sih": ["DT_INTER", "DT_SAIDA", "MUNIC_RES", "DIAG_PRINC", "DIAG_SECUN", "CBOR",
            "VAL_TOT", "QT_PROC"],
}
_ROWS = {"sinasc": _sinasc, "sim": _sim, "sih": _sih}


def landing_path(landing_dir: str, dataset: str, day: str) -> str:
    return os.path.join(landing_dir, dataset, f"dt={day}", "part-0.csv")


def write_landing_day(
    landing_dir: str, seeds: Seeds, dataset: str, day: str, rows: int, seed: int,
    years: tuple[int, int],
) -> DayCounts:
    """Write one landing day; event dates fall in ``years`` (inclusive)."""
    rng = random.Random(f"{dataset}-{day}-{seed}")
    counts = DayCounts(raw_rows=rows, kept_rows=0)
    gen = _ROWS[dataset](_Rows(seeds, rng, years), rows, counts)
    counts.raw_bytes = _write_csv(landing_path(landing_dir, dataset, day),
                                  HEADERS[dataset], gen, ";")
    return counts


# ---------------------------------------------------------------------------
# TPC-H-shaped tables (same value domains as the engine's synthetic schema).
# ---------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
# Several row groups per large table, as a lake writer leaves them: Spark
# can then split the scan across cores (a single-row-group file is read by
# one task however many cores there are).
ROW_GROUP_ROWS = 75_000


def write_tpch(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write ``{out_dir}/{table}.parquet`` for the seven TPC-H-shaped tables;
    returns their row counts."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)

    def money(lo: float, hi: float, n: int):
        return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)

    def days(start: str, end: str, n: int):
        d0, d1 = np.datetime64(start, "D"), np.datetime64(end, "D")
        off = rng.integers(0, int((d1 - d0).astype(int)) + 1, n)
        return (d0 + off).astype("datetime64[us]")

    def pick(values: list[str], n: int):
        return np.array(values, dtype=object)[rng.integers(0, len(values), n)]

    tables = {
        "region": {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS},
        "nation": {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": pick(SEGMENTS, n_cust),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                       zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": pick(P_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pick(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000.0, 500000.0, n_ord),
            "o_orderdate": days("1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": pick(PRIORITIES, n_ord),
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": money(900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": pick(["A", "N", "R"], n_li),
            "l_linestatus": pick(["F", "O"], n_li),
            "l_shipdate": days("1995-01-02", "2001-11-04", n_li),
        },
    }
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, cols in tables.items():
        t = pa.table(cols)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=ROW_GROUP_ROWS)
        counts[name] = t.num_rows
    return counts


# ---------------------------------------------------------------------------
# Corpus tables (documents, embeddings), grown by appending part files.
# ---------------------------------------------------------------------------

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast", "filter",
         "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
         "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
         "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.41, 0.14, 0.15, 0.15, 0.15]
N_SOURCES = 20
EMB_DIM = 64
N_LABELS = 10


def write_corpus(sf_dir: str, seed: int, part: str, first_id: int, rows: int) -> None:
    """Write ``{sf_dir}/documents.parquet/{part}.parquet`` and the same for
    ``embeddings``, ``rows`` each with ids ``first_id ..``: 10-100 word
    documents over the corpus vocabulary, unit-norm float vectors around
    ten label centres (the centres depend on ``seed`` only, so every part
    shares them)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"corpus-{seed}-{part}")
    ids = range(first_id, first_id + rows)
    texts = [" ".join(rng.choices(VOCAB, k=rng.randint(10, 100))) for _ in ids]
    docs = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": rng.choices(LANGS, weights=LANG_WEIGHTS, k=rows),
        "source": [f"src{i % N_SOURCES}" for i in ids],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    centres = np.random.default_rng(seed).normal(size=(N_LABELS, EMB_DIM))
    nrng = np.random.default_rng([seed, first_id])
    labels = nrng.integers(0, N_LABELS, rows)
    vecs = centres[labels] + nrng.normal(scale=0.8, size=(rows, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    for name, t in (("documents", docs), ("embeddings", emb)):
        d = os.path.join(sf_dir, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        pq.write_table(t, os.path.join(d, f"{part}.parquet"))
