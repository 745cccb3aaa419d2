"""Seeded synthetic SRI vehicle-registry CSV (the ETL's source file).

Reproduces the quirk classes profiled on the reference's real sample
(FIXTURES.md section 1) and its cardinalities:

- about 109 CATEGORIA values and exactly 3 (TIPO TRANSACCION, TIPO
  SERVICIO) pairs holding 22 / 86 / 24 transaction tuples, so the J3
  lookup fans every row out by the size of its pair's group;
- duplicated vehicle codes: a few codes carry two distinct vehicle
  tuples (one differs only by a trailing space in MARCA), so the J2
  lookup doubles their rows;
- one near-empty row (only CATEGORIA and CODIGO DE VEHICULO set) that
  shares its code with a regular vehicle;
- trailing-space ('CHINA ') and mojibake ('ESPA?A') PAIS values;
- float-typed CANTON codes ('10701.0') that never hit the 17-entry map;
- about 18% null COLOR 2;
- M/d/yyyy dates under the 'DD/MM/AA' headers.

Only the values depend on the seed. Row counts per pair, transaction
tuples per pair, vehicle-code multiplicities and the canton set are fixed
by `rows`, so every seed yields the same dim and fact row counts
(`expected_counts`) and the same amount of work.
"""
import csv
import random

HEADER = [
    "CATEGORÍA", "CÓDIGO DE VEHÍCULO", "TIPO TRANSACCIÓN", "MARCA", "MODELO",
    "PAÍS", "AÑO MODELO", "CLASE", "SUB CLASE", "TIPO", "AVALÚO",
    "FECHA PROCESO (DD/MM/AA)", "TIPO SERVICIO", "CILINDRAJE",
    "TIPO COMBUSTIBLE", "FECHA COMPRA (DD/MM/AA)", "CANTÓN", "COLOR 1",
    "COLOR 2", "PERSONA NATURAL - JURÍDICA",
]

# (TIPO TRANSACCION, TIPO SERVICIO) -> transaction tuples in the pair and
# share of source rows; the tuple counts are the sample's 22 / 86 / 24
PAIRS = [
    (("COMPRA LOCAL", "ALQ"), 22, 0.2),
    (("COMPRA LOCAL", "PAR"), 86, 0.6),
    (("IMPORTACIÓN DIRECTA", "PAR"), 24, 0.2),
]
N_CATEGORIES = 109
N_CANTONS = 88
MAPPED_CANTONS = [10701, 10911, 21101, 20501, 30101]

PAISES = ["CHINA POPULAR", "CHINA ", "JAPON", "COREA DEL SUR", "ESTADOS UNIDOS",
          "ESPA?A", "ECUADOR", "COLOMBIA", "BRASIL", "MEXICO", "INDIA",
          "ALEMANIA", "TAILANDIA", "ITALIA", "FRANCIA", "ARGENTINA", "PERU",
          "TAIWAN", "REINO UNIDO", "CHINA"]
CLASES = ["AUTOMOVIL", "CAMION", "CAMIONETA", "JEEP", "MOTOCICLETA",
          "OMNIBUS", "TRAILER", "TANQUERO", "VOLQUETA"]
COMBUSTIBLES = ["DIESEL", "ELECTRICO", "GASOLINA", "HIBRIDO_GASOLINA_BATERIAS"]
COLORES = ["BLA", "ROJ", "NEG", "PLA", "AZU", "GRI", "VER", "AMA", "CAF", "ANA", "DOR"]
TIPOS = ["LIVIANO", "PESADO"]
PERSONAS = ["NATURAL", "JURIDICA"]


def _date(rng):
    return f"{rng.randint(1, 12)}/{rng.randint(1, 28)}/{rng.choice([2023, 2024, 2025])}"


def _vehicle(rng, code, marcas, modelos, subclases):
    anio = rng.choice(range(2018, 2026))
    return {
        "CÓDIGO DE VEHÍCULO": code,
        "MARCA": rng.choice(marcas),
        "MODELO": rng.choice(modelos),
        "PAÍS": rng.choice(PAISES),
        "AÑO MODELO": float(anio),
        "CLASE": rng.choice(CLASES),
        "SUB CLASE": rng.choice(subclases),
        "TIPO": rng.choice(TIPOS),
        "CILINDRAJE": float(rng.choice(range(100, 6600, 100))),
        "TIPO COMBUSTIBLE": rng.choice(COMBUSTIBLES),
        "COLOR 1": rng.choice(COLORES),
        "COLOR 2": None if rng.random() < 0.18 else rng.choice(COLORES),
    }


def n_dup_codes(rows):
    """Vehicle codes that carry two distinct vehicle tuples."""
    return max(1, rows // 1000)


def _pair_rows(regular):
    counts = [int(regular * share) for _, _, share in PAIRS]
    counts[1] += regular - sum(counts)
    return counts


def expected_counts(rows):
    """Dim and fact row counts that every seed produces for `rows`."""
    dups = n_dup_codes(rows)
    regular = rows - 1
    mid_tuples = PAIRS[1][1]
    # every regular row fans out by its pair's tuple count; the 2*dups + 1
    # rows on doubled codes (all in the middle pair) match two vehicle
    # tuples; the near-empty row matches no transaction tuple and the two
    # vehicle tuples of its code
    fact = (sum(n * t for n, (_, t, _) in zip(_pair_rows(regular), PAIRS))
            + (2 * dups + 1) * mid_tuples + 2)
    return {
        "dim_tiempo": 2192,
        "dim_vehiculo": int(regular * 0.78) + dups + 1,
        "dim_transaccion": sum(t for _, t, _ in PAIRS) + 1,
        "dim_ubicacion": N_CANTONS,
        "fact_registro_vehiculos": fact,
    }


def generate(path, rows, seed):
    """Write `rows` source rows (one of them near-empty) to `path`."""
    if rows < 200:
        raise ValueError("rows must be >= 200, so every canton and transaction tuple appears")
    rng = random.Random(seed)
    dups = n_dup_codes(rows)
    regular = rows - 1
    n_vehicles = int(regular * 0.78)

    categories = rng.sample(range(100000, 999999), N_CATEGORIES)
    cantons = MAPPED_CANTONS + rng.sample(
        [c for c in range(10100, 99999, 7) if c not in MAPPED_CANTONS],
        N_CANTONS - len(MAPPED_CANTONS))
    marcas = ["HINO", "KIA", "CHEVROLET"] + [f"MARCA{i:02d}" for i in range(3, 44)]
    modelos = [f"MODELO-{rng.randint(100, 999)}-{i} 4X2 TM" for i in range(109)]
    subclases = [f"SUBCLASE-{chr(65 + i)}" for i in range(26)]

    # transaction tuples: pair x (persona, categoria); 109 categories over
    # 132 tuples, the last pair reusing some of the middle pair's
    fresh = iter(categories)
    pair_tuples, previous = [], []
    for _, n_tuples, _ in PAIRS:
        tuples = []
        for _ in range(n_tuples):
            cat = next(fresh, None)
            tuples.append((rng.choice(PERSONAS), cat if cat is not None else previous.pop()))
        previous = [c for _, c in tuples]
        pair_tuples.append(tuples)

    codes = rng.sample(range(1000000, 9999999), n_vehicles)
    vehicles = [_vehicle(rng, c, marcas, modelos, subclases) for c in codes]
    # doubled codes: vehicles[:dups] get a twin tuple that differs only by
    # a trailing space in MARCA; vehicles[dups] shares its code with the
    # near-empty row. Each of these 2*dups + 1 tuples carries one row.
    singles = []
    for v in vehicles[:dups]:
        singles += [v, dict(v, MARCA=v["MARCA"] + " ")]
    singles.append(vehicles[dups])
    pool = vehicles[dups + 1:]

    pair_counts = _pair_rows(regular)
    rows_out = []
    for p, n in enumerate(pair_counts):
        (tt, ts), tuples = PAIRS[p][0], pair_tuples[p]
        for k in range(n):
            # every tuple appears at least once, then uniformly
            persona, cat = tuples[k] if k < len(tuples) else rng.choice(tuples)
            rows_out.append({"CATEGORÍA": cat, "TIPO TRANSACCIÓN": tt,
                             "TIPO SERVICIO": ts, "PERSONA NATURAL - JURÍDICA": persona})
    mid = pair_counts[0]
    fixed = range(mid, mid + len(singles))
    rest = [r for r in range(regular) if not mid <= r < mid + len(singles)]
    rng.shuffle(rest)
    for r, v in zip(fixed, singles):
        rows_out[r].update(v)
    # every pool vehicle carries at least one row
    for j, r in enumerate(rest):
        rows_out[r].update(pool[j] if j < len(pool) else rng.choice(pool))

    canton_of_row = cantons + [rng.choice(cantons) for _ in range(regular - len(cantons))]
    rng.shuffle(canton_of_row)
    for r, row in enumerate(rows_out):
        row.update({
            "AVALÚO": round(rng.uniform(946.15, 370000.0), 2),
            "FECHA PROCESO (DD/MM/AA)": _date(rng),
            "FECHA COMPRA (DD/MM/AA)": _date(rng),
            "CANTÓN": float(canton_of_row[r]),
        })
    rows_out.append({"CATEGORÍA": categories[0],
                     "CÓDIGO DE VEHÍCULO": vehicles[dups]["CÓDIGO DE VEHÍCULO"]})
    rng.shuffle(rows_out)

    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f)
        w.writerow(HEADER)
        for row in rows_out:
            w.writerow(["" if row.get(h) is None else row[h] for h in HEADER])
