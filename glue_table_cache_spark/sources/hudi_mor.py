"""Hudi MERGE_ON_READ read path: base files + log-block replay.

Beyond-reference extension (the reference never handles HUDI at all,
/root/reference/src/types.ts:4-11).  A MOR table routes updates and
deletes into ``.log.*`` files per file group; the snapshot view is
"base rows, overridden/removed by log records, newest instant wins".

Spark-first shape — the merge is ONE window over the record key:

1. the timeline walk (driver, metadata-scale) yields the active base
   slices with their write instants and the un-compacted log files
   (:func:`glue_table_cache_spark.sources.hudi.hudi_mor_scan_info`);
2. base files are read as a normal distributed parquet scan; each
   row's write instant is attached via a broadcast
   ``file → instant`` map on ``_metadata.file_path`` (metadata-scale,
   no shuffle);
3. log files are decoded DISTRIBUTED: a paths DataFrame is
   repartitioned and ``mapInPandas`` runs the pure-Python block codec
   (:mod:`glue_table_cache_spark.sources.hudi_log`) per file —
   deliberately NOT ``spark.read.format("binaryFile")``, which
   silently drops Hudi's dot-prefixed log names as hidden files;
   upsert payloads come back as JSON and are projected to the base
   schema with ``from_json`` (JVM-side);
4. one ``row_number`` window per record key ordered by
   ``(instant, source file, block index, record index)`` picks the
   newest version; rows whose newest version is a delete drop out.

The single shuffle is the key window — the minimum any per-key
merge needs.  Rollback command blocks are honored file-locally
during decode (blocks whose instant a later command block targets
are skipped), matching the log-reader posture of Hudi itself.

Payload limitation (documented): log records travel as JSON between
the Python decoder and ``from_json``, so binary columns in MOR log
payloads are not supported — refuse rather than corrupt.
"""

from __future__ import annotations

import json

from glue_table_cache_spark.errors import GlueSparkError
from glue_table_cache_spark.session import local_frame

#: Hudi's record-key meta column, present in every real Hudi table
DEFAULT_RECORD_KEY = "_hoodie_record_key"


def _decode_logs_fn(record_key_field: str):
    """Worker-side decoder: one input row per log file → one output
    row per surviving log record.  Reads the file bytes itself (local
    or s3://) so hidden-file filters never apply."""

    def decode(iterator):
        import datetime as _dt

        import pandas as pd

        from glue_table_cache_spark.sources.hudi_log import (
            read_log_blocks,
        )
        from glue_table_cache_spark.sources.iceberg import _read_bytes

        def _json_default(v):
            # temporal payload values travel as the strings
            # from_json parses back into timestamp/date columns
            if isinstance(v, _dt.datetime):
                return v.strftime("%Y-%m-%d %H:%M:%S.%f")
            if isinstance(v, (_dt.date,)):
                return v.isoformat()
            raise TypeError(
                f"unserializable log payload value {v!r}"
            )

        for pdf in iterator:
            keys, commits, srcs, blks, recs, ops, payloads = (
                [], [], [], [], [], [], []
            )
            for path, commit in zip(pdf["path"], pdf["commit"]):
                blocks = read_log_blocks(_read_bytes(path), name=path)
                rolled = {
                    b["target_instant"]
                    for b in blocks
                    if b["type"] == "command" and b.get("target_instant")
                }
                for bi, b in enumerate(blocks):
                    if b["instant"] in rolled:
                        continue
                    for ri, rec in enumerate(b["records"]):
                        if record_key_field not in rec:
                            raise ValueError(
                                f"log record in {path} lacks record "
                                f"key field {record_key_field!r}"
                            )
                        keys.append(str(rec[record_key_field]))
                        commits.append(b["instant"] or commit)
                        srcs.append(path)
                        blks.append(bi)
                        recs.append(ri)
                        ops.append("U")
                        payloads.append(
                            json.dumps(rec, default=_json_default)
                        )
                    for ri, (k, _part) in enumerate(b["deletes"]):
                        keys.append(str(k))
                        commits.append(b["instant"] or commit)
                        srcs.append(path)
                        blks.append(bi)
                        recs.append(ri)
                        ops.append("D")
                        payloads.append(None)
            yield pd.DataFrame(
                {
                    "__key": keys,
                    "__commit": commits,
                    "__src": srcs,
                    "__blk": blks,
                    "__rec": recs,
                    "__op": ops,
                    "__payload": payloads,
                }
            )

    return decode


def hudi_mor_read(
    spark,
    base_entries: list[tuple[str, dict, int]],
    log_entries: list[tuple[str, int]],
    record_key_field: str = DEFAULT_RECORD_KEY,
    base_path: str | None = None,
    schema=None,
):
    """Snapshot view of a MOR table as a DataFrame.

    ``base_entries`` are ``(path, partition_values, instant)`` triples
    and ``log_entries`` ``(path, instant)`` pairs or ``(path,
    instant, partition_values)`` triples, both from
    :func:`~glue_table_cache_spark.sources.hudi.hudi_mor_scan_info`.
    ``record_key_field`` must exist in the base schema AND in every
    log record (Hudi's ``_hoodie_record_key`` meta column by
    default).

    Partition columns: log payloads carry only the record fields —
    the partition value lives in the file's directory.  When
    ``log_entries`` are triples, each log row's partition columns are
    filled from its file's write-stat partition values (broadcast map
    on the source path), so a post-merge partition filter sees the
    right values on log-derived rows too."""
    log_pv = {
        e[0]: e[2] for e in log_entries if len(e) > 2 and e[2]
    }
    log_entries = [(e[0], e[1]) for e in log_entries]
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from glue_table_cache_spark.sources.iceberg import (
        _strip_path,
        _strip_scheme,
    )

    if not base_entries and not log_entries:
        return spark.range(0).select(F.lit(None).alias("null"))

    reader = spark.read
    if base_path:
        reader = reader.option("basePath", base_path)
    if base_entries:
        base = reader.parquet(*[p for p, _pv, _ts in base_entries])
    else:
        # LOG-BORN merge (r13): every group is live logs with no base
        # slice, so the payload type authority is the caller-supplied
        # schema (the timeline's recorded extraMetadata.schema) and
        # the base leg is an empty seed
        if schema is None:
            raise GlueSparkError(
                "MOR merge of log-born file groups (no base slice) "
                "needs a schema to type the log payloads — pass the "
                "timeline's recorded extraMetadata.schema"
            )
        base = local_frame(spark, [], schema)
    if record_key_field not in base.columns:
        raise GlueSparkError(
            f"record key field {record_key_field!r} is not in the "
            f"Hudi base schema {base.columns} — pass the table's key "
            "field explicitly"
        )
    for f in base.schema.fields:
        if "binary" in f.dataType.simpleString():
            raise GlueSparkError(
                f"MOR merge over binary column {f.name!r} is not "
                "supported (log payloads travel as JSON); compact to "
                "COPY_ON_WRITE or read through a Hudi runtime"
            )
    data_cols = base.columns

    if base_entries:
        instant_map = local_frame(
            spark,
            [
                (_strip_path(p), str(ts))
                for p, _pv, ts in base_entries
            ],
            "__file string, __commit string",
        )
        base_tagged = (
            base.withColumn(
                "__file", _strip_scheme(F.col("_metadata.file_path"))
            )
            .join(F.broadcast(instant_map), "__file", "left")
            .drop("__file")
            .withColumn(
                "__key", F.col(record_key_field).cast("string")
            )
            .withColumn("__src", F.lit(""))  # sorts before log paths
            .withColumn("__blk", F.lit(-1))
            .withColumn("__rec", F.lit(-1))
            .withColumn("__op", F.lit("U"))
        )
    else:
        # empty seed: no _metadata on a local relation, and no
        # instants to attach anyway
        base_tagged = (
            base.withColumn("__commit", F.lit(None).cast("string"))
            .withColumn(
                "__key", F.col(record_key_field).cast("string")
            )
            .withColumn("__src", F.lit(""))
            .withColumn("__blk", F.lit(-1))
            .withColumn("__rec", F.lit(-1))
            .withColumn("__op", F.lit("U"))
        )

    if log_entries:
        paths_df = local_frame(
            spark,
            [(p, str(ts)) for p, ts in log_entries],
            "path string, commit string",
        ).repartition(min(len(log_entries), 64))
        raw = paths_df.mapInPandas(
            _decode_logs_fn(record_key_field),
            schema=(
                "__key string, __commit string, __src string, "
                "__blk int, __rec int, __op string, __payload string"
            ),
        )
        payload_schema = base.schema
        upserts = (
            raw.where(F.col("__op") == "U")
            .withColumn(
                "__r", F.from_json(F.col("__payload"), payload_schema)
            )
            .select(
                *[F.col(f"__r.{c}").alias(c) for c in data_cols],
                "__key", "__commit", "__src", "__blk", "__rec", "__op",
            )
        )
        pv_cols = sorted(
            {k for pv in log_pv.values() for k in pv}
            & set(data_cols)
        )
        if pv_cols:
            types = {f.name: f.dataType for f in base.schema.fields}
            pv_df = local_frame(
                spark,
                [
                    (p, *[log_pv.get(p, {}).get(c) for c in pv_cols])
                    for p, _ts in log_entries
                ],
                "__src string, " + ", ".join(
                    f"__pv_{c} string" for c in pv_cols
                ),
            )
            upserts = upserts.join(
                F.broadcast(pv_df), "__src", "left"
            )
            for c in pv_cols:
                upserts = upserts.withColumn(
                    c,
                    F.coalesce(
                        F.col(c),
                        F.col(f"__pv_{c}").cast(types[c]),
                    ),
                )
            upserts = upserts.drop(
                *[f"__pv_{c}" for c in pv_cols]
            ).select(
                *data_cols,
                "__key", "__commit", "__src", "__blk", "__rec", "__op",
            )
        deletes = raw.where(F.col("__op") == "D").select(
            *[F.lit(None).cast(f.dataType).alias(f.name)
              for f in base.schema.fields],
            "__key", "__commit", "__src", "__blk", "__rec", "__op",
        )
        merged = base_tagged.select(
            *data_cols, "__key", "__commit", "__src", "__blk", "__rec",
            "__op",
        ).unionByName(upserts).unionByName(deletes)
    else:
        merged = base_tagged.select(
            *data_cols, "__key", "__commit", "__src", "__blk", "__rec",
            "__op",
        )

    # NUMERIC log version before the path string: a same-instant
    # rollover past version 9 ('.log.10' vs '.log.9') would misorder
    # lexicographically; base rows ('' source) sort as version -1
    ver = F.when(
        F.col("__src").rlike(r"\.log\.\d+"),
        F.regexp_extract(F.col("__src"), r"\.log\.(\d+)", 1).cast(
            "int"
        ),
    ).otherwise(F.lit(-1))  # ANSI: '' won't cast, guard first
    w = Window.partitionBy("__key").orderBy(
        F.col("__commit").desc(),
        ver.desc(),
        F.col("__src").desc(),
        F.col("__blk").desc(),
        F.col("__rec").desc(),
    )
    return (
        merged.withColumn("__rn", F.row_number().over(w))
        .where((F.col("__rn") == 1) & (F.col("__op") == "U"))
        .select(*data_cols)
    )
