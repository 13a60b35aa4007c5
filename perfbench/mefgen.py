"""Seeded generator of raw MEF monthly-spending CSV files.

Writes files shaped like the Peru MEF open-data drops that the pipeline
ingests (`YYYY-Gasto-Mensual.csv`, legacy `YYYY-Gasto.csv`): the 64
retained columns, all as text, with the traps the Transform stage is
built to survive. The same seed gives byte-identical files.

Besides the files it returns tallies computed while writing (rows per
file, trap counts, distinct fact grains, measure totals per year and
sector) that the benchmark's output checks compare against.

Dimension catalogues (executing units, programmes, classifiers, ...) are
fixed; the seed draws the rows. Cardinalities follow the MEF layout at
small scale: 3 government levels, 26 sectors, 90 pliegos, 400 executing
units, 300 programme lines, 120 functional lines, 900 goals,
24 financing lines and 300 expense classifiers.
"""
import random

COLS = [
    "ANO_EJE", "MES_EJE",
    "NIVEL_GOBIERNO", "NIVEL_GOBIERNO_NOMBRE",
    "SEC_EJEC", "EJECUTORA", "EJECUTORA_NOMBRE",
    "SECTOR", "SECTOR_NOMBRE", "PLIEGO", "PLIEGO_NOMBRE",
    "DEPARTAMENTO_EJECUTORA", "DEPARTAMENTO_EJECUTORA_NOMBRE",
    "PROVINCIA_EJECUTORA", "PROVINCIA_EJECUTORA_NOMBRE",
    "DISTRITO_EJECUTORA", "DISTRITO_EJECUTORA_NOMBRE",
    "PROGRAMA_PPTO", "PROGRAMA_PPTO_NOMBRE",
    "TIPO_ACT_PROY", "TIPO_ACT_PROY_NOMBRE",
    "PRODUCTO_PROYECTO", "PRODUCTO_PROYECTO_NOMBRE",
    "ACTIVIDAD_ACCION_OBRA", "ACTIVIDAD_ACCION_OBRA_NOMBRE",
    "SEC_FUNC",
    "FUNCION", "FUNCION_NOMBRE",
    "DIVISION_FUNCIONAL", "DIVISION_FUNCIONAL_NOMBRE",
    "GRUPO_FUNCIONAL", "GRUPO_FUNCIONAL_NOMBRE",
    "META", "FINALIDAD", "META_NOMBRE",
    "DEPARTAMENTO_META", "DEPARTAMENTO_META_NOMBRE", "FINALIDAD_NOMBRE",
    "FUENTE_FINANCIAMIENTO", "FUENTE_FINANCIAMIENTO_NOMBRE",
    "RUBRO", "RUBRO_NOMBRE", "TIPO_RECURSO", "TIPO_RECURSO_NOMBRE",
    "CATEGORIA_GASTO", "CATEGORIA_GASTO_NOMBRE",
    "TIPO_TRANSACCION",
    "GENERICA", "GENERICA_NOMBRE",
    "SUBGENERICA", "SUBGENERICA_NOMBRE",
    "SUBGENERICA_DET", "SUBGENERICA_DET_NOMBRE",
    "ESPECIFICA", "ESPECIFICA_NOMBRE",
    "ESPECIFICA_DET", "ESPECIFICA_DET_NOMBRE",
    "MONTO_PIA", "MONTO_PIM", "MONTO_CERTIFICADO", "MONTO_COMPROMETIDO_ANUAL",
    "MONTO_COMPROMETIDO", "MONTO_DEVENGADO", "MONTO_GIRADO",
]
MEASURES = COLS[-7:]
assert len(COLS) == 64  # MefSchema.colsClave

SECTORS = [
    "PRESIDENCIA CONSEJO MINISTROS", "CULTURA", "PODER JUDICIAL", "AMBIENTAL",
    "JUSTICIA", "INTERIOR", "RELACIONES EXTERIORES", "ECONOMÍA Y FINANZAS",
    "EDUCACIÓN", "SALUD", "TRABAJO Y PROMOCIÓN DEL EMPLEO", "AGRARIO Y DE RIEGO",
    "ENERGÍA Y MINAS", "CONTRALORÍA GENERAL", "DEFENSORÍA DEL PUEBLO",
    "JURADO NACIONAL DE ELECCIONES", "MINISTERIO PÚBLICO", "PRODUCCIÓN",
    "MUJER Y POBLACIONES VULNERABLES", "DEFENSA", "COMERCIO EXTERIOR Y TURISMO",
    "TRANSPORTES Y COMUNICACIONES", "VIVIENDA CONSTRUCCIÓN Y SANEAMIENTO",
    "DESARROLLO E INCLUSIÓN SOCIAL", "GOBIERNOS REGIONALES", "GOBIERNOS LOCALES",
]
DEPARTMENTS = [
    "AMAZONAS", "ÁNCASH", "APURÍMAC", "AREQUIPA", "AYACUCHO", "CAJAMARCA",
    "CALLAO", "CUSCO", "HUANCAVELICA", "HUÁNUCO", "ICA", "JUNÍN", "LA LIBERTAD",
    "LAMBAYEQUE", "LIMA", "LORETO", "MADRE DE DIOS", "MOQUEGUA", "PASCO",
    "PIURA", "PUNO", "SAN MARTÍN", "TACNA", "TUMBES", "UCAYALI",
]
UNIT_KINDS = [
    "HOSPITAL", "UNIDAD DE GESTIÓN EDUCATIVA", "MUNICIPALIDAD DISTRITAL",
    "DIRECCIÓN REGIONAL", "PROGRAMA NACIONAL", "OFICINA DE ADMINISTRACIÓN",
]
FUNCIONES = [
    "LEGISLATIVA", "RELACIONES EXTERIORES", "PLANEAMIENTO GESTIÓN Y RESERVA",
    "DEFENSA Y SEGURIDAD", "ORDEN PÚBLICO", "JUSTICIA", "TRABAJO", "COMERCIO",
    "TURISMO", "AGROPECUARIA", "PESCA", "ENERGÍA", "MINERÍA", "INDUSTRIA",
    "TRANSPORTE", "COMUNICACIONES", "AMBIENTE", "SANEAMIENTO", "VIVIENDA",
    "SALUD", "CULTURA Y DEPORTE", "EDUCACIÓN", "PROTECCIÓN SOCIAL",
    "PREVISIÓN SOCIAL", "DEUDA PÚBLICA",
]
GENERICAS = [
    "PERSONAL Y OBLIGACIONES SOCIALES", "PENSIONES Y OTRAS PRESTACIONES",
    "BIENES Y SERVICIOS", "DONACIONES Y TRANSFERENCIAS", "OTROS GASTOS",
    "ADQUISICIÓN DE ACTIVOS NO FINANCIEROS", "SERVICIO DE LA DEUDA",
]
FUENTES = [
    "RECURSOS ORDINARIOS", "RECURSOS DIRECTAMENTE RECAUDADOS",
    "RECURSOS POR OPERACIONES OFICIALES DE CRÉDITO", "DONACIONES Y TRANSFERENCIAS",
    "RECURSOS DETERMINADOS",
]
NIVELES = {"E": "GOBIERNO NACIONAL", "R": "GOBIERNOS REGIONALES", "M": "GOBIERNOS LOCALES"}

N_PLIEGO, N_EJEC, N_PROG, N_FUNC, N_META, N_FIN, N_CLAS = 90, 400, 300, 120, 900, 24, 300
# Bad measure tokens: each is rejected by a numeric parse (coerced to null).
BAD_TOKENS = ["N/D", "--", "S/.", "1.234.567", "#VALUE!"]


def _catalogues():
    """The fixed dimension catalogues: one tuple of column values per entity."""
    r = random.Random(20240501)
    pliegos = []
    for p in range(N_PLIEGO):
        s = p % len(SECTORS)
        pliegos.append((f"{s + 1:02d}", SECTORS[s], f"{p + 1:03d}", f"PLIEGO {p + 1:03d} {SECTORS[s]}"))
    ejec = []
    for e in range(N_EJEC):
        sec, sec_n, pl, pl_n = pliegos[r.randrange(N_PLIEGO)]
        nivel = "R" if sec_n == "GOBIERNOS REGIONALES" else "M" if sec_n == "GOBIERNOS LOCALES" else "E"
        d = r.randrange(len(DEPARTMENTS))
        pv, di = r.randrange(1, 9), r.randrange(1, 12)
        ejec.append((
            nivel, NIVELES[nivel],
            f"{300001 + e * 3:06d}", f"{e % 7 + 1:03d}",
            f"{UNIT_KINDS[e % len(UNIT_KINDS)]} {e + 1:04d} {DEPARTMENTS[d]}",
            sec, sec_n, pl, pl_n,
            f"{d + 1:02d}", DEPARTMENTS[d],
            f"{pv:02d}", f"PROVINCIA {pv} DE {DEPARTMENTS[d]}",
            f"{di:02d}", f"DISTRITO {di} DE {DEPARTMENTS[d]}"))
    prog = []
    for g in range(N_PROG):
        pp = g % 60
        tipo = "2" if g % 3 else "3"
        prog.append((
            f"{pp:04d}", f"PROGRAMA PRESUPUESTAL {pp:04d}",
            tipo, "ACTIVIDAD" if tipo == "2" else "PROYECTO",
            f"{3000000 + g // 2:07d}", f"PRODUCTO {g // 2:04d}",
            f"{5000000 + g:07d}", f"ACCIÓN {g:04d}",
            str(g % 40 + 1)))
    func = []
    for f in range(N_FUNC):
        fn = f % len(FUNCIONES)
        dv = f % 50
        func.append((
            f"{fn + 1:02d}", FUNCIONES[fn], f"{dv + 1:03d}", f"DIVISIÓN FUNCIONAL {dv + 1:03d}",
            f"{f + 1:04d}", f"GRUPO FUNCIONAL {f + 1:04d}"))
    meta = []
    for m in range(N_META):
        d = m % len(DEPARTMENTS)
        meta.append((
            f"{m % 300 + 1:04d}", f"{m + 1:07d}", f"FINALIDAD {m + 1:05d}",
            f"META {m + 1:05d}", f"{d + 1:02d}", DEPARTMENTS[d]))
    fin = []
    for n in range(N_FIN):
        fu = n % len(FUENTES)
        fin.append((
            f"{fu + 1}", FUENTES[fu], f"{n % 9 + 1:02d}", f"RUBRO {n % 9 + 1:02d}",
            f"{n % 4}", f"TIPO RECURSO {n % 4}", f"{n % 3 + 5}",
            ["GASTOS CORRIENTES", "GASTOS DE CAPITAL", "SERVICIO DE LA DEUDA"][n % 3]))
    clas = []
    for c in range(N_CLAS):
        gi = c % len(GENERICAS)
        clas.append((
            "2", f"{gi + 1}", GENERICAS[gi],
            f"{c % 5 + 1}", f"SUBGENÉRICA {gi + 1}.{c % 5 + 1}",
            f"{c % 11 + 1}", f"SUBGENÉRICA DETALLE {c % 11 + 1}",
            f"{c % 23 + 1}", f"ESPECÍFICA {gi + 1}.{c % 23 + 1}",
            f"{c + 1}", f"ESPECÍFICA DETALLE {c + 1:04d}"))
    return ejec, prog, func, meta, fin, clas


EJEC, PROG, FUNC, META, FIN, CLAS = _catalogues()


# Each entity's columns pre-joined, in the canonical column order (COLS).
_JOINED = [[",".join(e) for e in EJEC], [",".join(g) for g in PROG], [",".join(f) for f in FUNC],
           [",".join((m[0], m[1], m[3], m[4], m[5], m[2])) for m in META],
           [",".join(n) for n in FIN], [",".join(c) for c in CLAS]]


def _line(year, month, idx, measures):
    """One data row in the canonical column order (no value holds a comma)."""
    return ",".join([str(year), str(month)] + [j[i] for j, i in zip(_JOINED, idx)] + measures)


def _measures(r):
    u = r.random
    pim = round(r.lognormvariate(10.0, 1.2), 2)
    pia = round(pim * (0.7 + 0.4 * u()), 2)
    cert = round(pim * (0.5 + 0.5 * u()), 2)
    comp_anual = round(cert * (0.8 + 0.2 * u()), 2)
    comp = round(comp_anual * (0.6 + 0.4 * u()), 2)
    dev = round(comp * (0.5 + 0.55 * u()), 2)
    gir = round(dev * (0.8 + 0.2 * u()), 2)
    return [pia, pim, cert, comp_anual, comp, dev, gir]


def write_file(path, seed, year, months, rows, active=1.0, encoding="utf-8",
               bom=False, padded_header=False, legacy=False):
    """Write one CSV of `rows` data rows for `year`, months drawn from
    `months`, and return its tallies. `active` is the share of each
    entity catalogue in use, so later files can bring new dim keys.
    """
    r = random.Random(f"{seed}:{year}:{months[0]}:{path.rsplit('/', 1)[-1]}")
    u = r.random  # draws as int(u() * n): several times faster than randrange
    n_e, n_g, n_f, n_m, n_c = (max(1, int(n * active)) for n in (N_EJEC, N_PROG, N_FUNC, N_META, N_CLAS))
    header = list(COLS)
    order = list(range(len(COLS)))
    extra = []
    if legacy:
        # legacy drops carry extra columns and their own column order
        r.shuffle(order)
        extra = ["FECHA_CARGA", "OBSERVACION"]
    out_header = [header[i] for i in order] + extra
    if padded_header:
        out_header = [f"  {h.lower() if i % 2 else h} " for i, h in enumerate(out_header)]
    t = dict(name=path.rsplit("/", 1)[-1], year=year, rows=rows, encoding=encoding, bom=bom,
             padded_header=padded_header, legacy=legacy, bad_month_rows=0,
             bad_measure_cells=0, dup_grain_rows=0)
    grains = set()
    totals = {}
    seen = []
    lines = [",".join(out_header)]
    for _ in range(rows):
        month = months[int(u() * len(months))]
        if seen and u() < 0.05:
            # duplicate grain: same month and dim keys as an earlier row
            month, idx = seen[int(u() * len(seen))]
        else:
            idx = (int(u() * n_e), int(u() * n_g), int(u() * n_f),
                   int(u() * n_m), int(u() * N_FIN), int(u() * n_c))
        vals = _measures(r)
        text = [f"{v:.2f}" for v in vals]
        if u() < 0.01:
            k = int(u() * 7)
            text[k] = BAD_TOKENS[int(u() * len(BAD_TOKENS))]
            vals[k] = 0.0
            t["bad_measure_cells"] += 1
        out_month = month
        if u() < 0.005:
            out_month = 0 if u() < 0.5 else 13
        line = _line(year, out_month, idx, text)
        if legacy:
            row = line.split(",")
            line = ",".join([row[i] for i in order] + ["2024-01-31", "SIN OBS"])
        lines.append(line)
        if out_month != month:
            t["bad_month_rows"] += 1
            continue
        grain = (month,) + idx
        if grain in grains:
            t["dup_grain_rows"] += 1
        else:
            grains.add(grain)
            seen.append((month, idx))
        sec = EJEC[idx[0]][6]
        acc = totals.setdefault(sec, [0.0] * 7)
        for k in range(7):
            acc[k] += vals[k]
    data = ("\n".join(lines) + "\n").encode(encoding)
    if bom:
        data = b"\xef\xbb\xbf" + data
    with open(path, "wb") as fh:
        fh.write(data)
    t["bytes"] = len(data)
    t["grains"] = len(grains)
    t["totals"] = {s: [round(x, 2) for x in v] for s, v in sorted(totals.items())}
    return t


def full_load_files(out_dir, seed, rows_per_file):
    """The full-load drop: four yearly files plus one legacy file, each
    carrying one of the file-level traps."""
    specs = [
        ("2019-Gasto.csv", 2019, dict(legacy=True)),
        ("2020-Gasto-Mensual.csv", 2020, dict(encoding="latin-1")),
        ("2021-Gasto-Mensual.csv", 2021, dict(bom=True)),
        ("2022-Gasto-Mensual.csv", 2022, dict(padded_header=True)),
        ("2023-Gasto-Mensual.csv", 2023, dict()),
    ]
    return [write_file(f"{out_dir}/{name}", seed, year, list(range(1, 13)), rows_per_file, **kw)
            for name, year, kw in specs]


def monthly_files(out_dir, seed, base_rows, month_rows, n_months):
    """A base year (2020) plus `n_months` single-month batches from
    2021-01 on. Later batches reach further into the catalogues, so dim
    deltas are non-empty. The first batch is latin-1; the later ones,
    which the benchmark times, share one encoding so their ingest runs
    the same jobs."""
    base = write_file(f"{out_dir}/2020-Gasto-Mensual.csv", seed, 2020, list(range(1, 13)),
                      base_rows, active=0.8)
    months = []
    for k in range(n_months):
        year, month = 2021 + k // 12, k % 12 + 1
        active = min(1.0, 0.8 + 0.2 * (k + 1) / n_months)
        months.append(write_file(f"{out_dir}/{year}-{month:02d}-Gasto-Mensual.csv", seed, year,
                                 [month], month_rows, active=active,
                                 encoding="latin-1" if k == 0 else "utf-8"))
    return base, months
