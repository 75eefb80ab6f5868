"""Source registry: declarative named sources → DataFrames.

Replaces the reference's per-job reader functions and shell-based path
discovery (spark_utils.py:66-162 ``os.popen("hadoop fs -ls …")``,
:259-364 ``dbs_tables``, :367-397 ``cmssw_tables``, …) with one
declarative ``SourceSpec``:

- format: csv | json | avro | parquet
- schema regimes (SURVEY §1.3): fixed StructType, *partial* StructType
  (JSON projection pushdown — load-bearing at 300 GB/day), or inferred
  (with ``samplingRatio`` bound).
- daily-snapshot layout: a strftime path template; date ranges expand to
  explicit path lists handed to one multi-path ``spark.read.load`` —
  replacing the reference's per-file read + ``union_all`` loop
  (spark_utils.py:98-109, U1) with a single scan.
- empty-day fallback: a 0-row DataFrame with the canonical schema when
  no path exists (S10; spark_utils.py:537-538, schemas.py:669-709).
- late-data slack: ``day_delta`` widens the scanned range; callers
  re-filter on the event-time column (T1; spark_utils.py:768-788).

Every parquet read in the package goes through ``read_parquet``, which
resolves the schema from one footer on the driver instead of Spark's
one-job schema inference.
"""

from __future__ import annotations

import functools
import glob as _glob
import json
from dataclasses import dataclass, field
from datetime import date, timedelta
from types import SimpleNamespace

from py4j.protocol import Py4JError
from pyspark.errors.exceptions.captured import CapturedException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_FORMAT_DEFAULTS: dict[str, dict[str, str]] = {
    # DBS/PhEDEx CSV dumps normalize literal 'null' (spark_utils.py:287-290).
    "csv": {"header": "true", "nullValue": "null"},
    "json": {},
    "avro": {},
    "parquet": {},
}


@dataclass
class SourceSpec:
    """A named source with schema, format, layout and date resolution."""

    name: str
    fmt: str
    path_template: str  # strftime template, e.g. "/data/cmssw/%Y/%m/%d/*.json.gz"
    schema: StructType | None = None  # fixed or partial; None → infer
    options: dict[str, str] = field(default_factory=dict)
    flatten: str | None = None  # e.g. "data.*" envelope flattening (S5)
    sampling_ratio: float | None = None  # bound inference cost (S6, O9)
    failfast: bool = False  # schema drift aborts (S2)

    def paths_for(self, start: date, end: date | None = None, day_delta: int = 0) -> list[str]:
        """Expand a date range (± day_delta slack) to existing paths."""
        end = end or start
        lo = start - timedelta(days=day_delta)
        hi = end + timedelta(days=day_delta)
        out: list[str] = []
        d = lo
        while d <= hi:
            pattern = d.strftime(self.path_template)
            # glob the FULL pattern: a day directory that exists but has
            # no matching files (e.g. only _SUCCESS) must fall through
            # to the empty-day fallback, not crash spark.read.load.
            if _glob.glob(pattern):
                out.append(pattern)
            d += timedelta(days=1)
        return out


def spark_avro_available(spark: SparkSession) -> bool:
    """True when ``spark.read.format("avro")`` works natively — asks
    the DataSource registry itself (some avro *classes* are on the
    classpath even without the spark-avro module registered, so a
    Class.forName probe false-positives)."""
    try:
        spark._jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
            "avro", spark._jsparkSession.sessionState().conf()
        )
        return True
    except Exception:
        return False


#: Characters that make Spark glob-expand a path (SparkHadoopUtil.isGlobPath),
#: and the newline the listing joins paths with.
_UNMODELLED_CHARS = frozenset("{}[]*?\\\n")


@functools.cache
def _footer_jvm(jvm) -> SimpleNamespace:
    """The JVM members the footer read uses, resolved once per gateway:
    each resolution by package path costs one py4j round trip per
    package segment, more than the rest of a footer read."""
    strings = jvm.org.apache.hadoop.util.StringUtils
    pq = jvm.org.apache.spark.sql.execution.datasources.parquet
    converter = pq.ParquetToSparkSchemaConverter

    def default(i: int) -> bool:
        return getattr(converter, f"$lessinit$greater$default${i}")()

    return SimpleNamespace(
        split=strings.split,
        to_paths=strings.stringToPath,
        Path=jvm.org.apache.hadoop.fs.Path,
        stat2Paths=jvm.org.apache.hadoop.fs.FileUtil.stat2Paths,
        wrap=jvm.scala.collection.immutable.ArraySeq.unsafeWrapArray,
        input_file=jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath,
        Footer=jvm.org.apache.parquet.hadoop.Footer,
        SKIP_ROW_GROUPS=jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
        read_footer=pq.ParquetFooterReader.readFooter,
        Converter=converter,
        # Inference leaves case sensitivity, field ids and variant
        # annotations at the constructor defaults, whatever the session
        # says (ParquetFileFormat.mergeSchemasInParallel).
        case_sensitive=default(3),
        use_field_id=default(6),
        ignore_variant=default(7),
        schema_from_footer=pq.ParquetFileFormat.readSchemaFromFooter,
    )


class _Unmodelled(Exception):
    """The layout needs Spark's own schema inference."""


def _hidden(name: str) -> bool:
    """Spark's listing filter (HadoopFSUtils.shouldFilterOutPathName),
    minus its summary-file exception: a name that could be a summary
    file is refused outright, because Spark's inference prefers summary
    files and this reader does not model that."""
    if name.startswith(("_metadata", "_common_metadata")):
        raise _Unmodelled(name)
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _leaf_order(paths, is_dir) -> list[str]:
    """``paths`` in the order of the full paths of the leaves below
    them: a directory sorts as its path plus "/". That suffix only moves
    a directory against the paths it is a prefix of, so ``is_dir`` is
    asked about those alone."""

    def cmp(a: str, b: str) -> int:
        ka = a + "/" if a != b and b.startswith(a) and is_dir(a) else a
        kb = b + "/" if a != b and a.startswith(b) and is_dir(b) else b
        return (ka > kb) - (ka < kb)

    return sorted(paths, key=functools.cmp_to_key(cmp))


def _first_leaf(c: SimpleNamespace, fs, paths) -> str | None:
    """The first data file, in leaf-path order, at or below ``paths``,
    or None when there is none. One listing call covers all of
    ``paths``: a file lists as itself, a directory as its children.
    Below the given paths, Spark infers from files in ``key=value``
    directories only when the layout is partitioned, so reaching any
    other directory is not modelled."""
    statuses = fs.listStatus(c.to_paths(c.split("\n".join(paths), "\n")))
    joined = c.wrap(c.stat2Paths(statuses)).mkString("\n")
    names = joined.split("\n") if joined else []
    if len(names) != len(statuses):
        raise _Unmodelled("a listed name holds a newline")
    visible = {
        p: i for i, p in enumerate(names) if not _hidden(p.rsplit("/", 1)[-1])
    }
    is_dir = functools.cache(lambda p: statuses[visible[p]].isDirectory())
    for child in _leaf_order(visible, is_dir):
        if not is_dir(child):
            return child
        if "=" not in child.rsplit("/", 1)[-1]:
            raise _Unmodelled(child)
        leaf = _first_leaf(c, fs, [child])
        if leaf is not None:
            return leaf
    return None


def _inference_converter(c: SimpleNamespace, sqlconf):
    """The Parquet-to-Spark schema converter Spark's inference builds:
    five arguments from the session conf, the rest at their defaults."""
    return c.Converter(
        sqlconf.isParquetBinaryAsString(),
        sqlconf.isParquetINT96AsTimestamp(),
        c.case_sensitive,
        sqlconf.parquetInferTimestampNTZEnabled(),
        sqlconf.legacyParquetNanosAsLong(),
        c.use_field_id,
        c.ignore_variant,
        sqlconf.parquetReaderRespectUnknownTypeAnnotation(),
    )


def _footer_schema(spark: SparkSession, paths: tuple[str, ...]):
    """The Java StructType Spark's inference would return for ``paths``,
    read on the driver from one footer, or None when the layout is not
    modelled or a JVM call fails.

    Spark infers from the first leaf data file in full-path order
    (ParquetUtils.inferSchema); this walk finds that file by listing
    only the directories on the way to it. Summary files are detected
    only in the directories the walk lists.
    """
    try:
        c = _footer_jvm(spark._jvm)
        state = spark._jsparkSession.sessionState()
        sqlconf = state.conf()
        if sqlconf.isParquetSchemaMergingEnabled():
            return None
        hconf = state.newHadoopConf()
        leaf = _first_leaf(c, c.Path(paths[0]).getFileSystem(hconf), paths)
        if leaf is None:
            return None
        leaf_path = c.Path(leaf)
        meta = c.read_footer(c.input_file(leaf_path, hconf), c.SKIP_ROW_GROUPS)
        schema = c.schema_from_footer(
            c.Footer(leaf_path, meta), _inference_converter(c, sqlconf)
        )
        # A data column that is also a partition directory key takes the
        # data column's place in an inferred schema but moves to the end
        # under a given schema.
        part_keys = {
            d.split("=", 1)[0].lower() for d in leaf.split("/")[:-1] if "=" in d
        }
        if part_keys:
            names = {f["name"].lower() for f in json.loads(schema.json())["fields"]}
            if part_keys & names:
                return None
    except (_Unmodelled, Py4JError, CapturedException):
        return None
    return schema


def read_parquet(spark: SparkSession, *paths: str, **options) -> DataFrame:
    """``spark.read.options(**options).parquet(*paths)`` without the
    schema-inference job.

    The schema comes from the footer of the file Spark's inference would
    read, converted by a converter built as inference builds it, so type
    mapping (nanos as long, NTZ inference) and the Spark row metadata
    stay identical. Spark's inference runs instead when schema merging
    is requested (as an option or a conf), when any option other than
    ``basePath`` is given, when a path holds glob characters, when a
    ``_metadata`` or ``_common_metadata`` summary file is seen, when the
    first file lies below a directory that is not ``key=value``, when a
    data column is also a partition key, or when a JVM call fails — so
    missing paths and corrupt files fail with Spark's error.
    """
    reader = spark.read.options(**options)
    if (
        paths
        and {k.lower() for k in options} <= {"basepath"}
        and not any(_UNMODELLED_CHARS & set(p) for p in paths)
    ):
        schema = _footer_schema(spark, paths)
        if schema is not None:
            # the Java StructType goes to the JVM reader as is: no JSON
            # round trip through a Python StructType
            reader._jreader.schema(schema)
    return reader.parquet(*paths)


def read_source(
    spark: SparkSession,
    spec: SourceSpec,
    start: date | None = None,
    end: date | None = None,
    day_delta: int = 0,
    register: bool = True,
) -> DataFrame:
    """Read a source for a date range as ONE multi-path scan.

    Returns a 0-row DataFrame with the declared schema when no paths
    exist for the range (empty-day fallback, S10) — inference-based
    sources with no data raise, since there is no schema to fall back to.
    """
    if start is not None:
        paths = spec.paths_for(start, end, day_delta)
    else:
        paths = [spec.path_template]

    if not paths:
        if spec.schema is None:
            raise FileNotFoundError(
                f"source {spec.name}: no files for range and no fallback schema"
            )
        df = spark.createDataFrame([], spec.schema)
    elif spec.fmt == "avro" and not spark_avro_available(spark):
        # No spark-avro module jar in this deployment: decode with the
        # vendored pure-Python Avro codec, distributed via binaryFile +
        # mapInPandas (sources/avro_io.py). Same schema/flatten/register
        # semantics as the native path.
        from cmsspark_spark.sources.avro_io import read_avro

        df = read_avro(spark, paths, schema=spec.schema)
    else:
        opts = {**_FORMAT_DEFAULTS.get(spec.fmt, {}), **spec.options}
        if spec.failfast:
            opts["mode"] = "FAILFAST"
        if spec.sampling_ratio is not None and spec.schema is None:
            opts["samplingRatio"] = str(spec.sampling_ratio)
        if spec.fmt == "parquet" and spec.schema is None:
            df = read_parquet(spark, *paths, **opts)
        else:
            reader = spark.read.format(spec.fmt).options(**opts)
            if spec.schema is not None:
                reader = reader.schema(spec.schema)
            df = reader.load(paths)

    if spec.flatten:
        df = df.select(f"{spec.flatten}")
    if register:
        df.createOrReplaceTempView(spec.name)
    return df


@dataclass
class Era:
    """One schema era of a drifting source: the spec that reads it and
    the first date (inclusive) it applies from."""

    since: date
    spec: SourceSpec
    # Optional per-era projection onto the source's CANONICAL columns
    # (applied before the cross-era union).
    normalize: "object | None" = None  # Callable[[DataFrame], DataFrame]


@dataclass
class VersionedSource:
    """A source whose record format changed over time (SURVEY §7.4
    "schema drift across eras").

    The reference's EOS reader hard-codes only the newest format and
    path (spark_utils.py:550-566 documents THREE record formats and a
    2020 path move in a docstring, then reads just one). Here each era
    declares its own path template + schema + a normalizer onto the
    canonical column set; a date range is split at the era boundaries,
    each slice is read with its own spec (one multi-path scan per era),
    and the slices are unioned BY NAME with missing-column tolerance —
    so a query spanning a format change just works.

    Scale note: each era remains a single declarative scan, so
    predicate pushdown / partition pruning apply per era; the union is
    a zero-shuffle concatenation.
    """

    name: str
    eras: list[Era] = field(default_factory=list)

    def _sorted(self) -> list[Era]:
        return sorted(self.eras, key=lambda e: e.since)

    def era_for(self, d: date) -> Era:
        """The era in effect on ``d`` (the latest era with since ≤ d)."""
        eras = self._sorted()
        live = [e for e in eras if e.since <= d]
        if not live:
            raise ValueError(
                f"source {self.name}: date {d} predates the first era "
                f"({eras[0].since})"
            )
        return live[-1]

    def slices(
        self, start: date, end: date | None = None
    ) -> list[tuple[Era, date, date]]:
        """Split [start, end] into (era, slice_start, slice_end) runs."""
        end = end or start
        out: list[tuple[Era, date, date]] = []
        eras = self._sorted()
        for i, era in enumerate(eras):
            lo = max(start, era.since)
            hi = end if i + 1 == len(eras) else min(
                end, eras[i + 1].since - timedelta(days=1)
            )
            if lo <= hi:
                out.append((era, lo, hi))
        if not out:
            # whole range predates every era boundary → era_for raises
            self.era_for(start)
        return out

    def read(
        self,
        spark: SparkSession,
        start: date,
        end: date | None = None,
        day_delta: int = 0,
        register: bool = True,
    ) -> DataFrame:
        """One DataFrame across eras, in canonical columns."""
        parts: list[DataFrame] = []
        for era, lo, hi in self.slices(start, end):
            df = read_source(spark, era.spec, lo, hi, day_delta, register=False)
            if era.normalize is not None:
                df = era.normalize(df)
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        if register:
            out.createOrReplaceTempView(self.name)
        return out
