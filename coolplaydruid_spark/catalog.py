"""DataSource catalog.

A Druid *dataSource* is "the queryable unit, analogous to an RDBMS table"
(reference: query/query-timeseries.md:49). Druid keeps the dataSource →
segment mapping in a MySQL metadata store (reference: arch/druid-arch.md:21);
here a dataSource is simply a named Parquet path (optionally time-partitioned)
plus the name of its primary time column, and the catalog is an in-process
dict — Spark's own catalog + Parquet partition discovery replace the
Coordinator/metastore machinery.

Every registered dataSource exposes a canonical ``__time`` column (Druid's
primary timestamp, query/query-timeseries.md:51) aliased from its declared
time column, so the query planner is schema-agnostic. The alias is a
Project on top of the scan — Catalyst pushes ``__time`` predicates through
it to the Parquet reader, so interval filters still become partition
pruning + row-group skipping at scale.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TIME_COLUMN = "__time"
# Raw int64-nanosecond shadow of the time column, kept only for tables whose
# Parquet stores TIMESTAMP(NANOS) (which Spark reads as long). Interval
# predicates are emitted against BOTH __time and this raw column: the __time
# predicate wraps the scan column in timestamp_micros() arithmetic (not
# pushable), while the raw-ns range predicate is a plain comparison on the
# scan column, so it lands in PushedFilters and skips Parquet row groups —
# the Spark analogue of Druid's interval→segment pruning
# (query/query-internal-procedure.md:7). Never exposed in query results.
RAW_TIME_NS = "__time_ns"


@dataclass
class DataSource:
    name: str
    path: str | None = None
    time_column: str | None = None
    # Columns treated as Druid dimensions/metrics; None = infer (strings ->
    # dimensions, numerics -> metrics) at query time.
    dimensions: list[str] | None = None
    metrics: list[str] | None = None
    options: dict[str, str] = field(default_factory=dict)
    # Files + mtimes under ``path`` as listed when the frame was loaded
    # (see Catalog.table); None until then, or for frame-backed sources.
    fingerprint: str | None = None

    def load(self, spark: SparkSession) -> DataFrame:
        reader = spark.read
        for k, v in self.options.items():
            reader = reader.option(k, v)
        nanos_cols = _nano_timestamp_columns(self.path)
        if nanos_cols:
            # The fixture Parquet stores TIMESTAMP(NANOS), which Spark's
            # reader rejects; read as long nanos and convert to native
            # TimestampType (µs). Production tables written by our own
            # ingest are µs + time-partitioned, so interval pruning there
            # is native partition pruning; this conversion is a
            # fixture-compat shim.
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = reader.parquet(self.path)
        for c in nanos_cols:
            if c in df.columns:
                if c == self.time_column:
                    # Shadow the raw nanos under RAW_TIME_NS *before* the
                    # conversion replaces the column, so interval filters
                    # can push a plain int64 range into the Parquet scan.
                    df = df.withColumn(RAW_TIME_NS, F.col(c))
                df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        if self.time_column and self.time_column in df.columns:
            df = df.withColumn(TIME_COLUMN, F.col(self.time_column))
        return df


def _file_fingerprint(path: str) -> str | None:
    """md5 over every file under ``path`` with its mtime (the Spark
    analogue of Druid's segment versions); None if the path is gone."""
    import hashlib
    import os

    h = hashlib.md5()
    try:
        if os.path.isdir(path):
            for root, _, files in os.walk(path):
                for f in sorted(files):
                    p = os.path.join(root, f)
                    h.update(f"{p}:{os.path.getmtime(p)}".encode())
        else:
            h.update(f"{path}:{os.path.getmtime(path)}".encode())
    except OSError:
        return None
    return h.hexdigest()


def _nano_timestamp_columns(path: str) -> list[str]:
    """Columns stored as timestamp[ns] in the Parquet footer (which Spark
    cannot read natively)."""
    try:
        import pyarrow.dataset as ds

        schema = ds.dataset(path, format="parquet").schema
    except Exception:
        return []
    out = []
    for field in schema:
        t = field.type
        if str(t).startswith("timestamp[ns"):
            out.append(field.name)
    return out


class Catalog:
    """name → DataSource registry; resolves Druid dataSource specs
    (table / union / nested query) to DataFrames."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._sources: dict[str, DataSource] = {}
        self._frames: dict[str, DataFrame] = {}
        self._lookups: dict[str, DataFrame] = {}
        self._lookup_version = 0
        self._registry_version = 0

    # ---- registered lookups (Druid's lookup dataSources) ----------------

    def register_lookup(
        self,
        name: str,
        mapping: dict | None = None,
        df: DataFrame | None = None,
        key_col: str | None = None,
        value_col: str | None = None,
    ) -> None:
        """Register a named lookup (Druid's registered/namespaced lookups,
        DimensionSpecs component query/query-module-overview.md:45).

        Druid holds lookups as replicated in-heap maps on every node; the
        Spark analogue is a key/value DataFrame applied via BROADCAST
        left join at plan time (plans/lookups.py) — so a lookup can be
        millions of rows without driver-side create_map literals. Pass
        either a plain dict or a DataFrame (+ key/value column names,
        default: first two columns)."""
        if df is None:
            if mapping is None:
                raise ValueError("register_lookup needs a mapping or a DataFrame")
            df = self.spark.createDataFrame(
                list(mapping.items()), "key string, value string"
            )
            key_col, value_col = "key", "value"
        key_col = key_col or df.columns[0]
        value_col = value_col or df.columns[1]
        self._lookup_version += 1
        self._lookups[name] = df.select(
            F.col(key_col).cast("string").alias("key"),
            F.col(value_col).cast("string").alias("value"),
        )

    def lookup(self, name: str) -> DataFrame:
        if name not in self._lookups:
            raise KeyError(
                f"unknown lookup {name!r}; registered: {sorted(self._lookups)}"
            )
        return self._lookups[name]

    def lookups(self) -> dict[str, DataFrame]:
        return dict(self._lookups)

    @property
    def registry_version(self) -> int:
        """Bumped on every register() — metadata views (sqlmeta) cache
        until the table registry changes, including re-registrations."""
        return self._registry_version

    @property
    def lookup_version(self) -> int:
        """Bumped on every register_lookup — lets SQL-side lookup
        inlining (sqlcompat) cache until the registry changes."""
        return self._lookup_version

    def register(
        self,
        name: str,
        path: str | None = None,
        df: DataFrame | None = None,
        time_column: str | None = None,
        dimensions: list[str] | None = None,
        metrics: list[str] | None = None,
        as_view: bool = True,
    ) -> DataSource:
        source = DataSource(
            name=name, path=path, time_column=time_column,
            dimensions=dimensions, metrics=metrics,
        )
        self._sources[name] = source
        # Monotonic: bumps on re-registration too (a replaced path or
        # schema must invalidate metadata-view caches — sqlmeta.py).
        self._registry_version += 1
        # Re-registration must also evict the cached frame, or table()
        # keeps serving the old path/schema until process restart.
        self._frames.pop(name, None)
        if df is not None:
            if time_column and time_column in df.columns:
                df = df.withColumn(TIME_COLUMN, F.col(time_column))
            self._frames[name] = df
        if as_view:
            # SQL front-end (reference query/query-module-overview.md:48-49):
            # every dataSource is queryable via spark.sql directly.
            self.table(name).createOrReplaceTempView(name)
        return source

    def names(self) -> list[str]:
        return sorted(self._sources)

    def source(self, name: str) -> DataSource:
        if name not in self._sources:
            raise KeyError(f"unknown dataSource: {name!r}; known: {self.names()}")
        return self._sources[name]

    def table(self, name: str) -> DataFrame:
        if name in self._frames:
            return self._frames[name]
        source = self.source(name)
        if source.path:
            # Listed BEFORE the frame lists its files: a file landing in
            # between is read under the older fingerprint, and the next
            # registration re-keys it — never the other way round, which
            # would cache an old read under a key claiming the new file.
            source.fingerprint = _file_fingerprint(source.path)
        df = source.load(self.spark)
        self._frames[name] = df
        return df

    def fingerprint(self, name: str) -> str | None:
        """The file fingerprint of the data ``table(name)`` reads. It is
        taken once, when the frame is loaded (at registration for views),
        so it changes when ingest re-registers the table — not when files
        change underneath a registered frame, which keeps reading the
        listing it was built from."""
        self.table(name)
        return self.source(name).fingerprint

    def resolve(self, datasource) -> DataFrame:
        """Resolve a Druid dataSource spec to a DataFrame.

        Supported shapes (Datasources component, reference
        query/query-module-overview.md:40): a plain name, ``{"type":
        "table", "name": ...}``, ``{"type": "union", "dataSources":
        [...]}`` (→ unionByName), and ``{"type": "query", "query":
        {...}}`` (nested query — handled by the planner, which passes the
        inner result DataFrame here).
        """
        if isinstance(datasource, DataFrame):
            return datasource
        if isinstance(datasource, str):
            return self.table(datasource)
        if isinstance(datasource, dict):
            dtype = datasource.get("type", "table")
            if dtype == "table":
                return self.table(datasource["name"])
            if dtype == "union":
                names = datasource.get("dataSources") or datasource.get("names")
                frames = [self.resolve(n) for n in names]
                out = frames[0]
                for other in frames[1:]:
                    out = out.unionByName(other, allowMissingColumns=True)
                return out
            if dtype == "query":
                raise ValueError(
                    "nested query dataSource must be planned by the engine "
                    "before catalog resolution"
                )
            raise ValueError(f"unsupported dataSource type: {dtype!r}")
        raise TypeError(f"bad dataSource spec: {datasource!r}")


# Test-fixture schema (FIXTURES.md): table -> its Druid time column.
FIXTURE_TIME_COLUMNS = {
    "events": "ts",
    "orders": "o_orderdate",
    "lineitem": "l_shipdate",
}
FIXTURE_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def register_fixtures(spark: SparkSession, sf_dir: str) -> Catalog:
    """Register the driver-generated test tables (TESTDATA.md) as
    dataSources. `events`/`orders`/`lineitem` get their natural time
    column as ``__time``."""
    catalog = Catalog(spark)
    for name in FIXTURE_TABLES:
        catalog.register(
            name,
            path=f"{sf_dir}/{name}.parquet",
            time_column=FIXTURE_TIME_COLUMNS.get(name),
        )
    return catalog
