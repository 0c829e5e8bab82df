"""Resource catalog — the engine's replacement for the reference's
Redis resource SET (ref ``internal/core/resource.go:36-108``).

A catalog is just a DataFrame with the resource schema; ``ingest``
reproduces the reference's scan -> filter -> dedup -> store pipeline
(ref ``internal/ingest/service.go:42-119``) as one declarative plan:
the filter is part of the scan (pushdown), dedup is a hash aggregate,
and the bulk store is a parquet append — no Redis, no RESP subprocess
(ref ``internal/core/resource.go:89-103``).

Fixes baked in (SURVEY §2A quirks list):
  * rejected single resources never null-deref (the filter simply
    yields 0 rows);
  * ingest returns rows *inserted*, not total set cardinality
    (ref bug ``internal/ingest/service.go:114-118``);
  * malformed URLs are quarantined, not silently dropped
    (ref ``internal/core/resource.go:66-70``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from chyme_spark.filters import compile_filter

# `scheme://authority/key` — same shape the reference parses with
# net/url (ref internal/core/resource.go:15-24). The authority (bucket)
# may be empty: Hadoop renders local paths as `file:/tmp/x` which we
# normalize to `file:///tmp/x`.
_SCHEME_RE = r"^([a-z][a-z0-9+.-]*)://"
_BUCKET_RE = r"^[a-z][a-z0-9+.-]*://([^/]*)/"
_KEY_RE = r"^[a-z][a-z0-9+.-]*://[^/]*/(.+)$"


def with_resource_columns(urls: DataFrame, phony: bool = False) -> DataFrame:
    """Annotate a (url STRING, ...) DataFrame with the resource schema.

    resource_hash = sha1(url) — identical identity rule to the reference
    (ref ``internal/core/resource.go:27-34``, ``pkg/hash/hash.go:18-24``).
    """
    normalized = F.regexp_replace("url", r"^([a-z][a-z0-9+.-]*):/(?!/)", "$1:///")
    return (
        urls.withColumn("url", normalized)
        .withColumn("scheme", F.regexp_extract("url", _SCHEME_RE, 1))
        .withColumn("bucket", F.regexp_extract("url", _BUCKET_RE, 1))
        .withColumn("key", F.regexp_extract("url", _KEY_RE, 1))
        .withColumn("ext", F.lower(F.regexp_extract("url", r"\.([A-Za-z0-9]+)$", 1)))
        .withColumn("phony", F.lit(phony))
        .withColumn("resource_hash", F.sha1(F.col("url")))
    )


def is_well_formed() -> Column:
    """Needs a scheme and a non-empty key. NULL urls yield NULL
    predicates, and a plain filter/~filter pair drops NULL rows from
    BOTH sides — the exact silent-vanish quarantine exists to prevent;
    coalesce pins them to quarantine (round-6 review)."""
    return F.coalesce((F.col("scheme") != "") & (F.col("key") != ""), F.lit(False))


def split_malformed(catalog: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(well-formed, quarantine) — see :func:`is_well_formed`."""
    return catalog.filter(is_well_formed()), catalog.filter(~is_well_formed())


LISTING_SCHEMA = "url string, size long, mtime long"


def _resolve_fs(url: str, s3_options: dict | None = None):
    """(filesystem, path) for a URL; explicit ``s3_options`` (a dict of
    ``pyarrow.fs.S3FileSystem`` kwargs — endpoint_override, access_key,
    role_arn, ...) override the ambient env/instance-profile chain, the
    engine-side hook for the reference's credential bootstrap (R40, ref
    ``cmd/util.go:21-57``). A plain dict, so it pickles cleanly into
    executor closures."""
    from urllib.parse import urlparse

    from pyarrow import fs as pafs

    parsed = urlparse(url)
    if s3_options and parsed.scheme in ("s3", "s3a"):
        return pafs.S3FileSystem(**s3_options), f"{parsed.netloc}{parsed.path}".rstrip("/")
    return pafs.FileSystem.from_uri(url)


def _resolve_root(root: str, s3_options: dict | None = None):
    """(scheme, filesystem, base path) of a listing root. Plain and
    relative paths and Hadoop's ``file:/x`` rendering are local files,
    resolved against the cwd the way Hadoop's ``Path`` resolves them."""
    import os

    if "://" not in root:
        root = f"file://{os.path.abspath(root.removeprefix('file:'))}"
    fs, base = _resolve_fs(root, s3_options)
    return root.split("://", 1)[0], fs, base.rstrip("/")


def _file_rows(infos, scheme: str, base_depth: int, max_depth: int | None):
    """(url, size, mtime) of the files among pyarrow ``FileInfo``s that sit
    at most ``max_depth`` levels below a root with ``base_depth``
    slashes — the one depth rule of every lister."""
    from pyarrow import fs as pafs

    for i in infos:
        if i.type != pafs.FileType.File:
            continue
        if max_depth is not None and (i.path.count("/") - base_depth - 1) > max_depth:
            continue
        # some filesystems omit mtimes; FileInfo.mtime_ns is then None
        mtime = i.mtime_ns // 1_000_000 if i.mtime_ns is not None else None
        yield f"{scheme}://{i.path}", i.size, mtime


def list_files(spark, root: str, max_depth: int | None = None) -> DataFrame:
    """Recursive object listing -> (url, size, mtime) DataFrame.

    Parity with the reference's BFS lister (ref ``pkg/aws/s3.go:63-80``,
    ``311-338``) including its ``--recursion`` depth bound — but with
    correct pagination (``pyarrow.fs`` pages internally; the reference
    dropped its ContinuationToken, ref ``pkg/aws/s3.go:344-356``). A file
    root lists that one file; a missing root raises FileNotFoundError.

    Listing runs on the driver in ``pyarrow.fs`` (it is metadata, same as
    Spark's own file index), with no per-object JVM gateway call; for
    buckets with millions of prefixes use :func:`list_files_distributed`.
    """
    from pyarrow import fs as pafs

    scheme, fs, base = _resolve_root(root)
    infos = [fs.get_file_info(base)]
    if infos[0].type == pafs.FileType.NotFound:
        raise FileNotFoundError(f"listing root not found: {root}")
    if infos[0].type == pafs.FileType.Directory:
        infos = fs.get_file_info(pafs.FileSelector(base, recursive=True))
    rows = list(_file_rows(infos, scheme, base.count("/"), max_depth))
    return spark.createDataFrame(rows, LISTING_SCHEMA)


def list_files_distributed(
    spark, root: str, max_depth: int | None = None, fanout_partitions: int = 64,
    s3_options: dict | None = None,
) -> DataFrame:
    """Recursive listing with the per-prefix recursion fanned out to
    executors — same output as :func:`list_files`, driver does only the
    first level.

    Parity with the reference's parallel per-prefix listing (ref
    ``pkg/aws/s3.go:326-337`` — errgroup over prefixes); at 100 M
    objects the driver-side iterator is the bottleneck, here the driver
    touches one page of first-level entries and each executor recurses
    one prefix. Executors' Python workers have no JVM gateway, so both
    listers use ``pyarrow.fs`` for file/s3/hdfs. ``s3_options`` binds
    explicit object-store credentials/endpoint into the executor
    closures (the env chain is invisible to already-running Python
    workers).
    """
    import pandas as pd
    from pyarrow import fs as pafs

    scheme, fs, base = _resolve_root(root, s3_options)
    base_depth = base.count("/")

    top = fs.get_file_info(pafs.FileSelector(base, recursive=False))
    dir_prefixes = [f"{scheme}://{i.path}" for i in top if i.type == pafs.FileType.Directory]
    files_df = spark.createDataFrame(list(_file_rows(top, scheme, base_depth, max_depth)),
                                     LISTING_SCHEMA)
    if not dir_prefixes:
        return files_df

    def list_prefixes(batches):
        # all prefixes share one scheme/credential config, so build the
        # filesystem client once per worker instead of once per prefix
        # (S3FileSystem setup is an aws-sdk client bootstrap — material
        # when a batch carries thousands of prefixes)
        cached_fs = None
        for pdf in batches:
            rows = []
            for prefix in pdf["prefix"]:
                if cached_fs is None:
                    cached_fs, _ = _resolve_fs(prefix, s3_options)
                ppath = prefix.split("://", 1)[1].rstrip("/")
                infos = cached_fs.get_file_info(pafs.FileSelector(ppath, recursive=True))
                rows.extend(_file_rows(infos, scheme, base_depth, max_depth))
            yield pd.DataFrame(rows, columns=["url", "size", "mtime"])

    prefixes = spark.createDataFrame(
        [(p,) for p in dir_prefixes], "prefix string"
    ).repartition(min(len(dir_prefixes), fanout_partitions))
    deep = prefixes.mapInPandas(list_prefixes, LISTING_SCHEMA)
    return files_df.unionByName(deep)


def ingest(
    urls: DataFrame, filter_string: str = "identity/", malformed: Observation | None = None
) -> DataFrame:
    """scan -> predicate -> dedup, as one narrow-then-aggregate plan.

    The only shuffle is the dedup on ``url``; at scale that is a hash
    repartition of (short) URL strings, and AQE coalesces the output.
    ``malformed`` observes the quarantine count (metric ``n``) over the
    whole listing during the same pass, before the filter and the dedup.
    """
    catalog = with_resource_columns(urls)
    if malformed is not None:
        catalog = catalog.observe(malformed, F.count_if(~is_well_formed()).alias("n"))
    good, _quarantine = split_malformed(catalog)
    return good.filter(compile_filter(filter_string)).dropDuplicates(["url"])
