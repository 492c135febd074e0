"""Seeded CrossRef-shaped works for the ``biblio_etl`` workload.

``make_batches(seed, n_cold, n_append)`` returns two harvests of items (plus a
few duplicate-DOI rows) in the ``works_raw`` shape of FIXTURES.md section 1:
the first for a cold run, the second for an incremental run on its lake.
The mix follows the fixture's edge cases: DOI prefix and case variants,
duplicate DOIs, HTML entities and runs of whitespace, multi-element titles,
literal-name and empty-name authors, accent variants of one name, ORCID with
and without the URL prefix, ORCID backfill, ``sequence='first'`` on a later
mention, affiliationless authors, UPS with and without a city, two-country and
``nan``-substring affiliations, year-only / created-only / out-of-range dates,
and works with no UPS affiliation. About 30% of works carry a UPS affiliation.

Every person has their own ORCID and their own normalized name, so identity
components stay person-sized (two or three name spellings plus one ORCID).

``expected(repo_root, *batches)`` runs the repository's sequential oracle
(``tests/bibliometric_oracle.py``) over the batches, each in the engine's
canonical order, and returns the row counts of ``obras``, ``autores`` and
``afiliaciones``, an order-insensitive hash of ``vista_analisis`` and the
oracle's ``vista_analisis`` rows.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import sys

UPS = "Universidad Politécnica Salesiana"

GIVEN = ["José", "María", "Lucía", "Andrés", "Sofía", "Martín", "Inés", "Raúl",
         "Ana", "Luis", "Pedro", "Jorge", "Elena", "Diego", "Carmen", "Pablo",
         "Rosa", "Iván", "Mónica", "Héctor", "Ángel", "Julia", "Tomás", "Irene"]
FAMILY = ["García", "Pérez", "Loja", "Calle", "Torres", "Zhu", "Rossi", "Silva",
          "Muñoz", "Díaz", "Vásquez", "Ordóñez", "Guzmán", "León", "Chen", "Müller",
          "Smith", "Román", "Quiñónez", "Peña", "Ibáñez", "Sánchez", "Cañar", "Ortiz"]
UPS_AFFS = [
    f"{UPS}, Cuenca, Ecuador",
    f"{UPS}, Quito, Ecuador",
    f"{UPS}, Guayaquil, Ecuador",
    f"{UPS}",
    f"{UPS} sede Guayaquil",
    f"Grupo GIHP4C, {UPS}, Cuenca, Ecuador",
    f"  {UPS},   Quito  ",
]
OTHER_AFFS = [
    "Universidad de Granada, Spain",
    "Universidad Nacional de Colombia, Colombia",
    "Politecnico di Milano, Italy",
    "Tsinghua University, China",
    "Nanjing University, China",
    "Universidad de Cuenca, Ecuador",
    "Instituto Ecuador-España de Madrid, Spain",
    "MIT, USA",
    "Pontificia Universidad Católica del Perú, Peru",
    "Universidade de São Paulo, Brazil",
    "Université de Paris, France",
    "Technische Universität München, Germany",
    "University of Tokyo, Japan",
    "Universidad de Chile, Chile",
    "Research Lab &amp; Co",
]
JOURNALS = ["Energies", "Sustainability", "IEEE Access", "Revista Ciencia &amp; Técnica",
            "Ingenius", "Alteridad", "Universitas", "La Granja"]
PUBLISHERS = ["MDPI", "IEEE", "Elsevier", "Springer", "Editorial  Abya-Yala"]
TYPES = ["journal-article", "proceedings-article", "book-chapter"]
SUBJECTS = ["Energy", "Control", "IoT", "Education", "Health", "  Grid  ",
            "Ecolog&#237;a", "Machine   Learning"]
DEPARTMENTS = ["Ingeniería Eléctrica", "Computación", "Biotecnología", "Educación",
               "Mecatrónica", "Ciencias Ambientales", "Economía", "Comunicación",
               "Psicología", "Matemáticas", "Electrónica", "Agronomía"]
WORDS = ["analysis", "model", "energy", "network", "learning", "control", "data",
         "system", "Andean", "water", "education", "policy", "design", "sensor"]


def _dp(*ymd):
    return {"date_parts": [list(ymd)]} if ymd else None


class _People:
    """Person pool: one ORCID and one normalized name per person."""

    def __init__(self, rng: random.Random, n: int, tag: str):
        self.rng = rng
        self.people = []
        used = set()
        i = 0
        while len(self.people) < n:
            given, family = rng.choice(GIVEN), rng.choice(FAMILY)
            # the index keeps names distinct; the accent variant of this
            # exact name still collides with it after NFKD + lower
            family = f"{family} {_roman(i)}"
            i += 1
            key = (given, family)
            if key in used:
                continue
            used.add(key)
            k = len(self.people)
            orcid = f"0000-{tag}-{k // 10000:04d}-{k % 10000:04d}"
            self.people.append({"given": given, "family": family, "orcid": orcid})

    def pick(self):
        # skewed popularity: a few prolific authors, a long tail
        k = int(len(self.people) * (self.rng.random() ** 2.5))
        return self.people[min(k, len(self.people) - 1)]


def _roman(i: int) -> str:
    letters = "abcdefghijklmnopqrstuvwxyz"
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = letters[r] + s
    return s.capitalize()


def _strip_accents(s: str) -> str:
    import unicodedata

    s = unicodedata.normalize("NFKD", s)
    return "".join(ch for ch in s if not unicodedata.combining(ch))


def _with_department(rng, aff):
    if rng.random() < 0.6:
        return f"Departamento de {rng.choice(DEPARTMENTS)}, {aff}"
    return aff


def _mention(rng, person, pos, ups_work, force_ups):
    r = rng.random()
    orcid = None
    if rng.random() < 0.45:
        orcid = person["orcid"] if rng.random() < 0.5 else f"https://orcid.org/{person['orcid']}"
    given, family, name = person["given"], person["family"], None
    if r < 0.10:
        given, family = _strip_accents(given), _strip_accents(family)  # José vs Jose
    elif r < 0.14:
        given, family, name = None, None, f"{person['given']} {person['family']}"
    elif r < 0.17 and orcid:
        # ORCID-first identity: same ORCID under another spelling
        given, family = f"{person['given'][0]}.", f"{person['family']} Jr"
    elif r < 0.19:
        given, family, name = "", "", "  "  # empty name: dropped
    elif r < 0.21:
        given = f"  {given}   "
    affs = []
    if ups_work and (force_ups or rng.random() < 0.25):
        affs.append(_with_department(rng, rng.choice(UPS_AFFS)))
    n_other = rng.choices([0, 1, 2], weights=[5, 4, 1])[0]
    for _ in range(n_other):
        affs.append(_with_department(rng, rng.choice(OTHER_AFFS)))
    if not affs and rng.random() < 0.85:
        affs.append(_with_department(rng, rng.choice(OTHER_AFFS)))
    seq = "first" if pos == 0 else "additional"
    s = rng.random()
    if s < 0.05:
        seq = None
    elif s < 0.08:
        seq = "first"  # promotion on a later mention
    return {"given": given, "family": family, "name": name, "ORCID": orcid,
            "sequence": seq, "affiliation": [{"name": a} for a in affs]}


def _dates(rng):
    y = rng.choice([2019, 2020, 2021, 2022, 2023, 2024, 2025])
    m, d = rng.randint(1, 12), rng.randint(1, 28)
    r = rng.random()
    online = print_ = issued = created = None
    if r < 0.45:
        online = _dp(y, m, d)
    elif r < 0.60:
        print_ = _dp(y, m)
    elif r < 0.72:
        issued = _dp(y)  # year only
    elif r < 0.80:
        issued = _dp(1234)  # out of range: falls through to created
    elif r < 0.97:
        pass  # created only
    else:
        return None, None, None, None  # no date at all: Anio null
    created = _dp(y - 1, 12, 31)
    if rng.random() < 0.3 and online is not None:
        print_ = _dp(y + 1, 1)  # several fields with different years
    return online, print_, issued, created


def _title(rng, i):
    words = " ".join(rng.choice(WORDS) for _ in range(rng.randint(3, 8)))
    r = rng.random()
    if r < 0.1:
        return [f"P&amp;G   {words} {i}"]
    if r < 0.2:
        return [f"Estudio de {words} {i}", "Second   part"]
    if r < 0.25:
        return [f"Investigaci&#243;n {words} {i}"]
    return [f"{words.capitalize()} {i}"]


def _doi(rng, base):
    r = rng.random()
    if r < 0.55:
        return base
    if r < 0.70:
        return f"https://doi.org/{base.upper()}"
    if r < 0.82:
        return f"https://dx.doi.org/{base}"
    if r < 0.92:
        return f"doi: {base.capitalize()}"
    return f"  {base}  "


def _works(rng, people, n, tag):
    out = []
    for i in range(n):
        ups_work = rng.random() < 0.30
        n_auth = rng.choices([1, 2, 3, 4, 5], weights=[2, 4, 4, 3, 1])[0]
        persons = []
        while len(persons) < n_auth:
            p = people.pick()
            if p not in persons:
                persons.append(p)
        ups_pos = rng.randrange(n_auth)
        authors = [_mention(rng, p, j, ups_work, j == ups_pos) for j, p in enumerate(persons)]
        online, print_, issued, created = _dates(rng)
        subj = None
        if rng.random() < 0.5:
            subj = rng.sample(SUBJECTS, rng.randint(1, 3))
            if rng.random() < 0.2:
                subj.append(subj[0])
        base = f"10.{5000 + i % 7}/{tag}.{i}"
        item = {
            "doi": _doi(rng, base) if rng.random() > 0.01 else None,
            "title": _title(rng, i) if rng.random() > 0.02 else [],
            "container_title": [rng.choice(JOURNALS)] if rng.random() > 0.05 else [],
            "publisher": rng.choice(PUBLISHERS) if rng.random() > 0.03 else None,
            "type": rng.choice(TYPES),
            "is_referenced_by_count": rng.randint(0, 80) if rng.random() > 0.05 else None,
            "reference_count": rng.randint(0, 60) if rng.random() > 0.05 else None,
            "subject": subj,
            "author": authors,
            "published_online": online,
            "published_print": print_,
            "issued": issued,
            "created": created,
        }
        out.append(item)
        if item["doi"] and rng.random() < 0.04:
            # same DOI in another form with a different title: dedup path
            dup = dict(item)
            dup["doi"] = _doi(rng, base)
            dup["title"] = [f"Zz duplicate {i}"]
            dup["is_referenced_by_count"] = rng.randint(0, 80)
            out.append(dup)
    rng.shuffle(out)
    return out


def make_batches(seed: int, n_cold: int, n_append: int) -> tuple[list[dict], list[dict]]:
    """A first harvest of ``n_cold`` works and a later one of ``n_append``
    new works by the same people, plus about 10% of the first harvest
    delivered again under another DOI form and title (ignored on insert)."""
    rng = random.Random(seed)
    people = _People(rng, max(8, (n_cold + n_append) * 6 // 5), f"{seed % 9000 + 1000:04d}")
    cold = _works(rng, people, n_cold, f"w{seed}")
    again = []
    for it in rng.sample(cold, max(1, n_append // 10)):
        if it["doi"]:
            base = _std_base(it["doi"])
            again.append({**it, "doi": _doi(rng, base), "title": [f"Zz harvested again {base}"],
                          "is_referenced_by_count": rng.randint(0, 80)})
    append = _works(rng, people, n_append, f"w{seed}b") + again
    rng.shuffle(append)
    return cold, append


def _std_base(doi: str) -> str:
    d = doi.strip()
    for prefix in ("https://doi.org/", "https://dx.doi.org/", "doi: "):
        if d.startswith(prefix):
            d = d[len(prefix):]
    return d.lower()


def write_jsonl(items: list[dict], path: str) -> int:
    with open(path, "w", encoding="utf-8") as fh:
        for it in items:
            fh.write(json.dumps(it, ensure_ascii=False) + "\n")
    return os.path.getsize(path)


VISTA_COLS = ("DOI", "Titulo", "Anio", "Revista", "Editorial", "Tipo", "Citas",
              "Referencias", "FechaPublicacion", "Autores", "Afiliaciones", "Sedes",
              "Areas", "Paises", "PaisesCodigo", "UPS_Flag", "Temas")


def rows_hash(rows) -> str:
    """Order-insensitive hash of ``vista_analisis`` rows (dicts or Rows)."""
    lines = sorted(json.dumps([r[c] for c in VISTA_COLS], ensure_ascii=False) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def _oracle_module(repo_root: str):
    tests_dir = os.path.join(repo_root, "tests")
    if tests_dir not in sys.path:
        sys.path.insert(0, tests_dir)
    import bibliometric_oracle

    return bibliometric_oracle


def _canonical_key(o, it):
    """The engine's duplicate-DOI tie-break order (``normalize_works``)."""

    def nf(v):
        return (v is not None, v)

    return (
        o.std_doi(it.get("doi")) or "",
        o.norm_nfc("; ".join(it.get("title") or [])),
        nf(o.year_any(it)),
        o.norm_nfc("; ".join(it.get("container_title") or [])),
        o.norm_nfc(it.get("publisher")),
        nf(it.get("type")),
        it.get("is_referenced_by_count") or 0,
        it.get("reference_count") or 0,
    )


def expected(repo_root: str, *batches: list[dict]) -> dict:
    """Oracle result after ingesting ``batches`` one run after another: the
    sequential reference over each batch in the engine's canonical order."""
    from ups_crossref_etl_spark.sources.catalog import SEED_ROWS

    o = _oracle_module(repo_root)
    items = [it for b in batches for it in sorted(b, key=lambda it: _canonical_key(o, it))]
    res = o.run_oracle(items, SEED_ROWS)
    return {
        "obras": len(res["obras"]),
        "autores": len(res["autores"]),
        "afiliaciones": len(res["afiliaciones"]),
        "vista_hash": rows_hash(res["vista"]),
        "vista": res["vista"],
    }
