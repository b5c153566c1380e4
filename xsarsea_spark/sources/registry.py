"""Model registry / catalog with priority-based alias resolution.

Parity targets: xsarsea ``models.py:453-538`` (``available_models`` /
``get_model``) and the per-family priorities (cmod7=1, gmf=3,
nc/pickle lut=10 — ``cmod7.py:13``, ``gmfs.py:19``, ``models.py:355``).

The catalog is a plain list of :class:`CatalogEntry` rows materialized
on demand as a Spark DataFrame; alias resolution (sort by priority,
keep one model per short name, the rest unaliased) is the
window-dedup + union pattern from SURVEY.md §2.3/§2.6. At scale the
catalog is O(models) — always broadcastable.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from xsarsea_spark.functions.gmfs import GMF_REGISTRY

__all__ = [
    "CatalogEntry",
    "ModelCatalog",
    "default_catalog",
    "PRIORITY_CMOD7",
    "PRIORITY_GMF",
    "PRIORITY_FILE_LUT",
]

PRIORITY_CMOD7 = 1
PRIORITY_GMF = 3
PRIORITY_FILE_LUT = 10


@dataclass(frozen=True)
class CatalogEntry:
    name: str
    short_name: str
    kind: str                    # 'gmf' | 'parquet_lut' | 'cmod7'
    pol: str
    units: str
    priority: int
    path: Optional[str] = None   # backing file for file-based LUTs


def _short_name(name: str) -> str:
    """Strip family prefixes (models.py:73-76)."""
    for p in ("gmf_", "nc_lut_", "sarwing_lut_", "cmod7_"):
        if name.startswith(p):
            return name[len(p):]
    return name


class ModelCatalog:
    """Mutable registry; ``register_*`` inserts rows, ``available`` and
    ``get`` mirror the reference's lookup semantics."""

    def __init__(self):
        self._entries: dict[str, CatalogEntry] = {}

    # -- registration -------------------------------------------------
    def register(self, entry: CatalogEntry) -> None:
        self._entries[entry.name] = entry

    def register_gmfs(self) -> None:
        """All analytic GMFs from the expression registry."""
        for name, g in GMF_REGISTRY.items():
            self.register(CatalogEntry(
                name=name, short_name=_short_name(name), kind="gmf",
                pol=g.pol, units=g.units, priority=PRIORITY_GMF,
            ))

    def register_parquet_lut(self, name: str, path: str, pol: str,
                             units: str = "dB") -> None:
        """File-backed LUT (the NcLutModel/PickleLutModel analog: the
        one-time converters in sources.luts produce these parquets)."""
        self.register(CatalogEntry(
            name=name, short_name=_short_name(name), kind="parquet_lut",
            pol=pol, units=units, priority=PRIORITY_FILE_LUT, path=path,
        ))

    def register_cmod7(self, path: str) -> None:
        self.register(CatalogEntry(
            name="cmod7", short_name="cmod7", kind="cmod7", pol="VV",
            units="linear", priority=PRIORITY_CMOD7, path=path,
        ))

    # -- lookup -------------------------------------------------------
    def rows(self) -> list[tuple]:
        return [
            (e.name, e.short_name, e.kind, e.pol, e.units, e.priority,
             e.path)
            for e in self._entries.values()
        ]

    def to_df(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(
            self.rows(),
            schema="name STRING, short_name STRING, kind STRING, "
                   "pol STRING, units STRING, priority INT, path STRING",
        )

    def available(self, spark: SparkSession,
                  pol: str | None = None) -> DataFrame:
        """Alias-resolved catalog (models.py:453-498): per short name
        the lowest-priority model gets the alias; everything else keeps
        alias NULL. Deterministic tie-break on name."""
        df = self.to_df(spark)
        w = Window.partitionBy("short_name").orderBy(
            F.col("priority").asc(), F.col("name").asc())
        ranked = df.withColumn("__rn", F.row_number().over(w))
        out = ranked.withColumn(
            "alias",
            F.when(F.col("__rn") == 1, F.col("short_name")),
        ).drop("__rn", "short_name", "priority")
        if pol is not None:
            out = out.filter(F.col("pol") == pol)
        return out.select("name", "alias", "kind", "pol", "units", "path")

    def get(self, name: str) -> CatalogEntry:
        """Resolve by exact name, then by alias (models.py:510-538)."""
        if name in self._entries:
            return self._entries[name]
        ranked = sorted(self._entries.values(),
                        key=lambda e: (e.priority, e.name))
        seen: set[str] = set()
        for e in ranked:
            if e.short_name in seen:
                continue
            seen.add(e.short_name)
            if e.short_name == name:
                return e
        raise KeyError(f"model {name!r} not found")


def default_catalog() -> ModelCatalog:
    cat = ModelCatalog()
    cat.register_gmfs()
    return cat
