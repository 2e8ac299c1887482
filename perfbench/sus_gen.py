"""Seeded SUS landing-zone generator.

Writes the three seed CSVs (municipalities, CBO-2002 occupations, ICD-10
causes) at the reference's cardinalities and daily ``sinasc``/``sim``/``sih``
drops in the reference's landing layout
(``{landing}/{dataset}/dt=YYYY-MM-DD/part-0.csv``, ``;``-separated).  The
same seed gives byte-identical files.

Every day carries a fixed share of records that take the ETL's sentinel and
drop paths: invalid or blank event dates (row dropped), blank hours (time
sentinel), unknown municipality, CBO and ICD codes (key-0 sentinels) and
multi-code ``LINHAII`` fields.  :func:`write_day` returns the true totals of
the rows the ETL must keep, so a benchmark can check the warehouse against
them without trusting the engine.
"""

from __future__ import annotations

import csv
import io
import os
import random
from collections import Counter
from dataclasses import dataclass, field
from datetime import date, timedelta

N_MUNICIPIOS = 5571
N_CBO = 2812
N_CID10 = 12477

# (IBGE code, sigla, name, region) of the 27 federative units.
UFS = [
    (11, "RO", "Rondônia", "Norte"), (12, "AC", "Acre", "Norte"),
    (13, "AM", "Amazonas", "Norte"), (14, "RR", "Roraima", "Norte"),
    (15, "PA", "Pará", "Norte"), (16, "AP", "Amapá", "Norte"),
    (17, "TO", "Tocantins", "Norte"), (21, "MA", "Maranhão", "Nordeste"),
    (22, "PI", "Piauí", "Nordeste"), (23, "CE", "Ceará", "Nordeste"),
    (24, "RN", "Rio Grande do Norte", "Nordeste"), (25, "PB", "Paraíba", "Nordeste"),
    (26, "PE", "Pernambuco", "Nordeste"), (27, "AL", "Alagoas", "Nordeste"),
    (28, "SE", "Sergipe", "Nordeste"), (29, "BA", "Bahia", "Nordeste"),
    (31, "MG", "Minas Gerais", "Sudeste"), (32, "ES", "Espírito Santo", "Sudeste"),
    (33, "RJ", "Rio de Janeiro", "Sudeste"), (35, "SP", "São Paulo", "Sudeste"),
    (41, "PR", "Paraná", "Sul"), (42, "SC", "Santa Catarina", "Sul"),
    (43, "RS", "Rio Grande do Sul", "Sul"), (50, "MS", "Mato Grosso do Sul", "Centro-Oeste"),
    (51, "MT", "Mato Grosso", "Centro-Oeste"), (52, "GO", "Goiás", "Centro-Oeste"),
    (53, "DF", "Distrito Federal", "Centro-Oeste"),
]
REGIONS_PER_UF = 17  # ~450 health regions, as in the real directory
ROMAN = ["I", "II", "III", "IV", "V", "VI", "VII", "VIII", "IX", "X", "XI", "XII", "XIII"]

# Share of each day's records routed through one sentinel or drop path.
SHARE_INVALID_DATE = 0.03
SHARE_BLANK_HOUR = 0.05
SHARE_UNKNOWN_MUN = 0.04
SHARE_UNKNOWN_CODE = 0.04
SHARE_MULTI_LINHAII = 0.30

UNKNOWN_MUN = "9999999"
UNKNOWN_CBO = "999999"
UNKNOWN_CID = "ZZ99"  # letter Z is never generated, so this never resolves
SENTINEL_UF = "IG"
SENTINEL_CITY = "Ignorado"

SINASC_COLS = [
    "DTNASC", "HORANASC", "CODMUNNASC", "CODMUNRES", "IDADEMAE", "RACACORMAE",
    "ESCMAE", "ESTCIVMAE", "SEXO", "RACACOR", "PESO", "PARTO", "GESTACAO", "GRAVIDEZ",
]
SIM_COLS = [
    "DTOBITO", "DTNASC", "HORAOBITO", "SEXO", "RACACOR", "ESTCIV", "ESC", "IDADE",
    "LINHAA", "LINHAB", "LINHAC", "LINHAD", "LINHAII", "CODMUNRES", "CODMUNOCOR", "OCUP",
]
SIH_COLS = ["DT_INTER", "DT_SAIDA", "MUNIC_RES", "DIAG_PRINC", "DIAG_SECUN", "CBOR", "VAL_TOT", "QT_PROC"]


@dataclass(frozen=True)
class Municipio:
    code7: str
    name: str
    uf: str
    health_region: str


@dataclass
class Seeds:
    """The generated seed directories, plus what the drops draw from."""

    paths: dict[str, str]
    municipios: list[Municipio]
    cbo_codes: list[str]
    cid_codes: list[str]

    @property
    def health_regions(self) -> list[str]:
        return sorted({m.health_region for m in self.municipios})


@dataclass
class Truth:
    """True totals of the rows the ETL keeps, accumulated over days.

    Births and deaths are keyed by (residence UF, event year) and
    (residence city, event year); the sentinel member stands in for unknown
    municipalities, as in the warehouse."""

    raw_rows: int = 0
    raw_bytes: int = 0
    births: Counter = field(default_factory=Counter)  # dt -> kept births
    deaths: Counter = field(default_factory=Counter)  # dt -> kept deaths
    adm_procs: Counter = field(default_factory=Counter)  # dt -> sum QT_PROC
    adm_cents: Counter = field(default_factory=Counter)  # dt -> sum VAL_TOT * 100
    births_uf_year: Counter = field(default_factory=Counter)
    deaths_uf_year: Counter = field(default_factory=Counter)
    births_city_year: Counter = field(default_factory=Counter)
    deaths_city_year: Counter = field(default_factory=Counter)


def _write_csv(path: str, header: list[str], rows: list[list[str]], sep: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    buf = io.StringIO()
    w = csv.writer(buf, delimiter=sep, lineterminator="\n")
    w.writerow(header)
    w.writerows(rows)
    data = buf.getvalue().encode("utf-8")
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def write_seeds(root: str, seed: int) -> Seeds:
    """Write the three seed CSVs under ``root`` and return what they hold."""
    rng = random.Random(f"seeds-{seed}")
    municipios: list[Municipio] = []
    mun_rows = []
    for i in range(N_MUNICIPIOS):
        uf_code, sigla, uf_name, region = UFS[i % len(UFS)]
        number = i // len(UFS) + 1
        prefix6 = uf_code * 10000 + number
        code7 = f"{prefix6}{(prefix6 * 7) % 10}"
        name = f"Cidade {prefix6}"
        hr = f"Regiao de Saude {sigla}-{rng.randrange(REGIONS_PER_UF):02d}"
        metro = f"RM {sigla}" if number <= 3 else ""
        municipios.append(Municipio(code7, name, sigla, hr))
        mun_rows.append([code7, name, "1" if number == 1 else "0", hr, metro, sigla, uf_name, region])

    cbo_codes = sorted(f"{100000 + (i * 311) % 900000:06d}" for i in range(N_CBO))
    cbo_rows = [
        [c, f"Ocupacao {c}", c[:4], f"Familia {c[:4]}", c[:3], f"Subgrupo {c[:3]}",
         c[:2], f"Subgrupo principal {c[:2]}", c[:1], f"Grande grupo {c[:1]}", "1"]
        for c in cbo_codes
    ]

    letters = "ABCDEFGHIJKLMNOPQRSTUVWXY"
    universe = [f"{ch}{n:02d}{s}" for ch in letters for n in range(100) for s in range(10)]
    cid_codes = sorted(rng.sample(universe, N_CID10))
    cid_rows = [
        [c, f"Causa {c}", c[:3], f"Categoria {c[:3]}", ROMAN[letters.index(c[0]) // 2],
         f"Capitulo {ROMAN[letters.index(c[0]) // 2]}",
         "1" if c[0] in "XY" else "0", "1" if c[:2] == "X4" else "0", c]
        for c in cid_codes
    ]

    paths = {
        "municipio": os.path.join(root, "municipio.csv"),
        "ocupacao": os.path.join(root, "cbo.csv"),
        "causa": os.path.join(root, "cid10.csv"),
    }
    _write_csv(paths["municipio"], ["id_municipio", "nome", "capital_uf", "nome_regiao_saude",
                                    "nome_regiao_metropolitana", "sigla_uf", "nome_uf",
                                    "nome_regiao"], mun_rows, ",")
    _write_csv(paths["ocupacao"], ["cbo_2002", "descricao", "familia", "descricao_familia",
                                   "subgrupo", "descricao_subgrupo", "subgrupo_principal",
                                   "descricao_subgrupo_principal", "grande_grupo",
                                   "descricao_grande_grupo", "indicador_cbo_2002_ativa"],
               cbo_rows, ",")
    _write_csv(paths["causa"], ["subcategoria", "descricao_subcategoria", "categoria",
                                "descricao_categoria", "capitulo", "descricao_capitulo",
                                "causa_violencia", "causa_overdose", "cid_datasus"],
               cid_rows, ",")
    return Seeds(paths, municipios, cbo_codes, cid_codes)


def _ddmmyyyy(d: date) -> str:
    return d.strftime("%d%m%Y")


def _coded(rng: random.Random, n: int, extra: str = "9") -> str:
    """A coded SUS attribute '1'..'n', sometimes the 'ignored' code or blank."""
    r = rng.random()
    if r < 0.05:
        return ""
    if r < 0.10:
        return extra
    return str(rng.randint(1, n))


class _DayDraw:
    """Draws the record fields of one day; each draw consumes ``rng``."""

    def __init__(self, rng: random.Random, seeds: Seeds, dt: date):
        self.rng, self.seeds, self.dt = rng, seeds, dt

    def event_date(self) -> tuple[str, date | None]:
        """Event date within the three years before the drop (late registrations
        included), or an invalid one."""
        if self.rng.random() < SHARE_INVALID_DATE:
            return self.rng.choice(["", "31022023", "99999999", "1A052023"]), None
        d = self.dt - timedelta(days=self.rng.randrange(3 * 365))
        return _ddmmyyyy(d), d

    def hour(self) -> str:
        if self.rng.random() < SHARE_BLANK_HOUR:
            return self.rng.choice(["", "2460", "7"])
        return f"{self.rng.randrange(24):02d}{self.rng.randrange(60):02d}"

    def municipio(self) -> Municipio | None:
        if self.rng.random() < SHARE_UNKNOWN_MUN:
            return None
        return self.rng.choice(self.seeds.municipios)

    def cid(self) -> str:
        if self.rng.random() < SHARE_UNKNOWN_CODE:
            return UNKNOWN_CID
        return self.rng.choice(self.seeds.cid_codes)

    def cbo(self) -> str:
        if self.rng.random() < SHARE_UNKNOWN_CODE:
            return UNKNOWN_CBO
        return self.rng.choice(self.seeds.cbo_codes)


def _res_keys(m: Municipio | None) -> tuple[str, str]:
    return (m.uf, m.name) if m else (SENTINEL_UF, SENTINEL_CITY)


def write_day(
    landing: str, seeds: Seeds, dt: date, seed: int, truth: Truth,
    births: int, deaths: int, admissions: int,
) -> None:
    """Write one day's ``sinasc``/``sim``/``sih`` drops and add the rows the
    ETL must keep to ``truth``."""
    rng = random.Random(f"day-{seed}-{dt.isoformat()}")
    draw = _DayDraw(rng, seeds, dt)
    key = dt.isoformat()

    rows = []
    for _ in range(births):
        dtnasc, d = draw.event_date()
        m_nasc, m_res = draw.municipio(), draw.municipio()
        rows.append([
            dtnasc, draw.hour(), m_nasc.code7 if m_nasc else UNKNOWN_MUN,
            m_res.code7 if m_res else UNKNOWN_MUN, str(rng.randint(12, 48)),
            _coded(rng, 5), _coded(rng, 5), _coded(rng, 5), _coded(rng, 2),
            _coded(rng, 5), str(rng.randint(500, 5200)), _coded(rng, 2),
            _coded(rng, 6), _coded(rng, 3),
        ])
        if d is not None:
            uf, city = _res_keys(m_res)
            truth.births[key] += 1
            truth.births_uf_year[(uf, d.year)] += 1
            truth.births_city_year[(city, d.year)] += 1
    truth.raw_bytes += _write_csv(
        os.path.join(landing, "sinasc", f"dt={key}", "part-0.csv"), SINASC_COLS, rows, ";")

    rows = []
    for _ in range(deaths):
        dtobito, d = draw.event_date()
        m_res, m_ocor = draw.municipio(), draw.municipio()
        lines = [draw.cid() for _ in range(rng.randint(1, 4))] + [""] * 4
        if rng.random() < SHARE_MULTI_LINHAII:
            linhaii = "".join(f"*{draw.cid()}X" for _ in range(rng.randint(2, 3)))
        else:
            linhaii = ""
        birth = _ddmmyyyy(d - timedelta(days=rng.randrange(90 * 365))) if d else ""
        rows.append([
            dtobito, birth, draw.hour(), rng.choice(["1", "2", "M", "F", "9"]),
            _coded(rng, 5), _coded(rng, 5), _coded(rng, 5), f"4{rng.randrange(100):02d}",
            *lines[:4], linhaii, m_res.code7 if m_res else UNKNOWN_MUN,
            m_ocor.code7 if m_ocor else UNKNOWN_MUN, f" {draw.cbo()} ",
        ])
        if d is not None:
            uf, city = _res_keys(m_res)
            truth.deaths[key] += 1
            truth.deaths_uf_year[(uf, d.year)] += 1
            truth.deaths_city_year[(city, d.year)] += 1
    truth.raw_bytes += _write_csv(
        os.path.join(landing, "sim", f"dt={key}", "part-0.csv"), SIM_COLS, rows, ";")

    rows = []
    for _ in range(admissions):
        dtin, d = draw.event_date()
        out = "" if rng.random() < 0.1 or d is None else _ddmmyyyy(d + timedelta(days=rng.randrange(30)))
        m = draw.municipio()
        cents = rng.randrange(5_000, 2_000_000)
        val = "" if rng.random() < 0.02 else f"{cents // 100}.{cents % 100:02d}"
        procs = "" if rng.random() < 0.02 else str(rng.randint(1, 9))
        rows.append([dtin, out, m.code7 if m else UNKNOWN_MUN, draw.cid(), draw.cid(),
                     draw.cbo(), val, procs])
        if d is not None:
            truth.adm_procs[key] += int(procs or 1)
            truth.adm_cents[key] += cents if val else 0
    truth.raw_bytes += _write_csv(
        os.path.join(landing, "sih", f"dt={key}", "part-0.csv"), SIH_COLS, rows, ";")
    truth.raw_rows += births + deaths + admissions
