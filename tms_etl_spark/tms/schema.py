"""The 71-column daily/shift schema (SURVEY.md §1.2).

Column order mirrors the reference's positional index→name map
(/root/reference/src/main_01.py:337-356): a headerless CSV where
``row[i]`` binds to ``DAILY_COLUMNS[i]``. All fields land as strings
(the reference keeps raw strings and casts lazily with
``float(x or 0)``, /root/reference/src/main_01.py:447-449);
``with_types`` is the engine's single, explicit coercion point.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from tms_etl_spark.operators.merge import _ident

_STOP_REASONS = (
    "ParadasUrdume",
    "ParadasOurelaFalsa",
    "ParadasLenoDireita",
    "ParadasLenoEsquerda",
    "ParadasTrama",
    "TrocaDeRolo",
    "CorteTecido",
    "ParadaManual",
    "EnergiaDesligada",
    "ParadasOutras",
)

# Interleaved Qtd/Min stop-reason pairs (idx 15-34).
_pairs: list[str] = []
for r in _STOP_REASONS:
    _pairs += [f"Qtd{r}", f"Min{r}"]

# Positional order per /root/reference/src/main_01.py:337-356.
DAILY_COLUMNS: tuple[str, ...] = (
    ("DataTurno", "Tear", "Artigo", "col3_unused", "ArtigoGen",
     "Rpm", "Eficiencia", "Funcionando", "Parado",
     "Pontos", "Metros", "Jardas", "MedidaGen", "QtdGen", "MinGen")
    + tuple(_pairs)
    + ("Wf11", "Wf12", "Wf21", "Wf22")
    + tuple(
        c for i in range(1, 17) for c in (f"QtdGen{i}", f"MinGen{i}")
    )
)
assert len(DAILY_COLUMNS) == 71, len(DAILY_COLUMNS)

STRING_COLUMNS = ("DataTurno", "Tear", "Artigo", "col3_unused", "ArtigoGen")
NUMERIC_COLUMNS: tuple[str, ...] = tuple(
    c for c in DAILY_COLUMNS if c not in STRING_COLUMNS
)

# Raw read schema: everything string (positional, headerless).
RAW_SCHEMA = T.StructType(
    [T.StructField(c, T.StringType(), True) for c in DAILY_COLUMNS]
)

MERGE_KEYS = ("DataTurno", "Tear")  # upsert key, /root/reference/src/main_01.py:243


def _num_sql(col: str) -> str:
    """P7: ``float(x or 0)`` → try_cast to double, '' / invalid / missing → 0."""
    return f"coalesce(try_cast(trim({_ident(col)}) AS DOUBLE), 0D)"


def with_types(raw: DataFrame) -> DataFrame:
    """Typed projection of a raw positional frame: trims strings,
    coerces measures (P7), derives ``data`` (DATE), ``turno`` (A/B/C)
    and ``month`` (partition column) from the DataTurno shift key
    ``YYYY-MM-DD.X`` (SURVEY.md §1.1). Built as SQL projections — one
    py4j call per column instead of one per Column-API node, which
    for 71 columns was most of the import's plan-building cost."""
    cols = [
        f"trim({_ident(c)}) AS {_ident(c)}"
        for c in STRING_COLUMNS
        if c != "col3_unused"
    ]
    cols += [f"{_num_sql(c)} AS {_ident(c)}" for c in NUMERIC_COLUMNS]
    # carry through any non-schema columns (e.g. _src_file lineage)
    derived = ("data", "turno", "month")
    extras = [
        _ident(c)
        for c in raw.columns
        if c not in DAILY_COLUMNS and c not in derived
    ]
    return raw.selectExpr(*cols, *extras).selectExpr(
        "*",
        # try_to_date: malformed keys → null (ANSI-safe; the arity
        # filter drops them downstream, P2)
        "try_to_date(substring(DataTurno, 1, 10), 'yyyy-MM-dd') AS data",
        "substring(DataTurno, 12, 1) AS turno",
        "substring(DataTurno, 1, 7) AS month",
    )
