"""Sources and sinks.

Two input families:

1. **Fixture parquet** (driver-generated TPC-H-ish tables) — the test
   substrate.  :func:`load_table` / :func:`register_views`.

2. **Hi-C domain TSV** — the reference's native input model
   (SURVEY.md §1.1 [P `fithic.py::read_All_Interactions`]): positional
   tab-separated tables, plain or gzip, *no header*, fixed schema by
   position.  Explicit ``StructType``s; never ``inferSchema`` — at
   100 TB an inference pass is a full extra scan.

Writers mirror the reference's outputs (gz TSV significances +
per-pass bin stats) plus parquet, the scale-sane default.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .session import ensure_engine_confs

#: Fixture tables the driver registers as DuckDB views (Appendix A).
FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# --- Hi-C domain schemas (positional TSV, reference input model) -------

#: fragments: chr, extraField, fragmentMid, marginalizedContactCount, mappable
FRAGMENTS_SCHEMA = T.StructType(
    [
        T.StructField("chr", T.StringType(), False),
        T.StructField("extra_field", T.LongType(), True),
        T.StructField("frag_mid", T.LongType(), False),
        T.StructField("marginal_count", T.LongType(), True),
        T.StructField("mappable", T.DoubleType(), True),
    ]
)

#: interactions: chr1, fragmentMid1, chr2, fragmentMid2, contactCount
CONTACTS_SCHEMA = T.StructType(
    [
        T.StructField("chr1", T.StringType(), False),
        T.StructField("mid1", T.LongType(), False),
        T.StructField("chr2", T.StringType(), False),
        T.StructField("mid2", T.LongType(), False),
        T.StructField("contact_count", T.LongType(), False),
    ]
)

#: biases: chr, midpoint, bias (ICE / Knight-Ruiz factors, ~1.0-centred)
BIASES_SCHEMA = T.StructType(
    [
        T.StructField("chr", T.StringType(), False),
        T.StructField("mid", T.LongType(), False),
        T.StructField("bias", T.DoubleType(), True),
    ]
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture parquet table.

    ``events.ts`` is parquet TIMESTAMP(MICROS), which Spark reads as
    TIMESTAMP_NTZ; earlier fixture generations used TIMESTAMP(NANOS),
    which lands as an epoch-nanos LongType under ``nanosAsLong`` (set
    here).  Consumers that need event-time arithmetic go through
    :func:`epoch_us`, which handles both physical encodings.
    """
    ensure_engine_confs(spark)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def epoch_us(df: DataFrame, col: str = "ts"):
    """Epoch-microseconds Column from an event-time column, whatever
    physical type the source delivered:

    - timestamp / timestamp_ntz (parquet TIMESTAMP(MICROS)): the session
      timezone is pinned UTC (session.py), so ``unix_micros(cast(ts as
      timestamp))`` equals DuckDB's ``epoch_us(ts)`` on the same naive
      value — the oracle contract.
    - bigint (legacy parquet TIMESTAMP(NANOS) under ``nanosAsLong``):
      integer nanos → micros.

    Pure JVM expression either way — safe in the 100 TB hot path.
    """
    from pyspark.sql import functions as F

    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":
        return F.expr(f"{col} div 1000")
    return F.unix_micros(F.col(col).cast("timestamp"))


def register_views(spark: SparkSession, sf_dir: str, names=FIXTURE_TABLES) -> None:
    """Register fixture tables as temp views (mirrors the oracle's views)."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


# --- Hi-C TSV readers (reference-native input path) --------------------


def read_contacts_tsv(spark: SparkSession, path: str) -> DataFrame:
    """Read a reference-style interactions file (TSV/gz, headerless).

    Malformed lines (wrong arity / non-numeric fields) parse to nulls
    under CSV permissive mode and are DROPPED on the required columns —
    at 100 TB a single corrupt line must not kill the ingest (the
    reference, reading eagerly, would crash); the drop is explicit
    here so the semantics are documented rather than accidental.
    """
    df = spark.read.csv(path, sep="\t", schema=CONTACTS_SCHEMA, header=False)
    return df.na.drop(subset=["chr1", "mid1", "chr2", "mid2", "contact_count"])


def read_fragments_tsv(spark: SparkSession, path: str) -> DataFrame:
    """Fragments TSV; malformed lines dropped on (chr, frag_mid)."""
    df = spark.read.csv(path, sep="\t", schema=FRAGMENTS_SCHEMA, header=False)
    return df.na.drop(subset=["chr", "frag_mid"])


def read_biases_tsv(spark: SparkSession, path: str) -> DataFrame:
    """Biases TSV; malformed lines dropped on (chr, mid) — a null bias
    is kept (missing value ≠ malformed row; attach_biases defaults it)."""
    df = spark.read.csv(path, sep="\t", schema=BIASES_SCHEMA, header=False)
    return df.na.drop(subset=["chr", "mid"])


# --- sinks --------------------------------------------------------------


def write_tsv_gz(df: DataFrame, path: str) -> None:
    """Reference-style gz TSV output (significances / pass stats)."""
    df.write.mode("overwrite").option("sep", "\t").option(
        "compression", "gzip"
    ).csv(path)


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_jsonl(df: DataFrame, path: str, compression: str | None = "gzip") -> None:
    """JSON-lines sink — the interchange format most external text/LLM
    tooling consumes.  One object per line, optionally gzipped; complex
    types (arrays/structs/maps) serialize natively."""
    w = df.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def read_jsonl(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSON-lines source.  ALWAYS pass an explicit schema in production:
    without one Spark runs a full inference scan (twice the I/O) and an
    inferred schema can drift between drops; with one, malformed rows
    land in the permissive-mode corrupt-record column instead of
    failing the job."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.json(path)


def write_orc(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """ORC sink — columnar alternative where the downstream stack is
    Hive/Trino-flavored; same predicate-pushdown/column-pruning story
    as parquet."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 16,
    sort_cols: list[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (and optionally sorted) table so later
    joins/aggregations on the bucket key are co-located — no shuffle of
    either side.  THE lever for repeated large-fact joins at 100 TB:
    pay one shuffle at write time, never again at read time.

    ``path`` makes it an EXTERNAL table at an explicit location —
    required when the session's warehouse dir (defaults to the driver
    process cwd) may not be writable, e.g. under an externally-built
    SparkSession.  ``mode='append'`` adds bucketed files to an
    existing table with a MATCHING (n_buckets, bucket_cols, sort)
    spec — the maintained-index upsert path (keys_r12's shingle
    index); Spark validates the spec at write time.
    """
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table_name)


# --- atomic-publish parquet sink (manifest commit protocol) --------------


def zorder_key(
    df: DataFrame, cols: list[str], bits: int = 12
) -> "tuple[DataFrame, str]":
    """Attach a Morton (Z-order) key column interleaving ``cols``.

    Each column is first quantized to ``bits`` bits against its GLOBAL
    min/max (one tiny agg), then the bit planes are interleaved with
    plain shift/or JVM expressions — no UDF.  Sorting/range-partitioning
    by the resulting key co-locates rows that are close in EVERY listed
    dimension, so per-file min/max envelopes stay tight on all of them
    at once — the multi-dimensional file-skipping layout (Delta
    OPTIMIZE ZORDER BY / Iceberg sort orders) that a plain linear sort
    only achieves for its leading column.  ``bits × len(cols)`` must
    stay ≤ 63.  Returns ``(df_with_key, key_col_name)``.
    """
    if bits * len(cols) > 63:
        raise ValueError("zorder key exceeds 63 bits")
    bounds = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"mn_{i}") for i, c in enumerate(cols)],
        *[F.max(F.col(c).cast("double")).alias(f"mx_{i}") for i, c in enumerate(cols)],
    ).first()
    levels = (1 << bits) - 1
    quantized = []
    for i, c in enumerate(cols):
        mn, mx = bounds[f"mn_{i}"], bounds[f"mx_{i}"]
        if mn is None or mx is None:  # empty input or all-NULL column
            mn, mx = 0.0, 0.0
        span = (mx - mn) or 1.0
        q = F.least(
            F.lit(levels),
            F.greatest(
                F.lit(0),
                F.floor(
                    (F.col(c).cast("double") - F.lit(mn))
                    / F.lit(span)
                    * levels
                ).cast("bigint"),
            ),
        )
        quantized.append(q)
    z = F.lit(0).cast("bigint")
    for b in range(bits):
        for ci, q in enumerate(quantized):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(q, b).bitwiseAND(F.lit(1)),
                    b * len(cols) + ci,
                )
            )
    key = "_zorder_key"
    return df.withColumn(key, z), key


def _parquet_file_stats(
    fpath: str, cols: list[str]
) -> dict[str, list]:
    """Per-file [min, max] for each requested column, read from the
    parquet FOOTER (row-group statistics) — no data pages touched, no
    Spark job.  Columns without footer stats are omitted (reader keeps
    the file)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(fpath).metadata
    name_to_idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    out: dict[str, list] = {}
    for c in cols:
        i = name_to_idx.get(c)
        if i is None:
            continue
        lo = hi = None
        ok = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(i).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            mn, mx = st.min, st.max
            lo = mn if lo is None or mn < lo else lo
            hi = mx if hi is None or mx > hi else hi
        if ok and lo is not None:
            if hasattr(lo, "isoformat"):
                lo, hi = lo.isoformat(), hi.isoformat()
            out[c] = [lo, hi]
    return out


def write_parquet_atomic(
    df: DataFrame,
    path: str,
    mode: str = "append",
    zorder_by: list[str] | None = None,
    zorder_files: int = 8,
    stats_cols: list[str] | None = None,
    txid: str | None = None,
    checks: dict[str, str] | None = None,
    carry_checks: dict[str, str] | None = None,
) -> str:
    """Publish a parquet dataset ATOMICALLY without relying on
    directory rename: the mini commit protocol every object-store
    table format (Delta/Iceberg/Hudi) is built on.

    1. data files land under ``path/_staging_<txid>/`` — invisible to
       readers (readers never list the directory);
    2. the COMMIT POINT is publishing ``manifest-<seq>-<txid>.json``
       listing the staged files — a single-object write, which is
       atomic on both POSIX (temp + rename) and S3-style stores (PUT
       is atomic per object);
    3. :func:`read_parquet_atomic` reads the newest manifest and loads
       exactly its file list.

    A writer that dies before step 2 leaves only an orphaned staging
    directory: garbage, never observed by any reader.  ``mode`` is
    ``append`` (new manifest = previous files + staged files) or
    ``overwrite`` (new manifest = staged files only).  Returns the
    committed manifest path.

    This implementation targets local/POSIX paths (os.listdir /
    os.rename); on a real object store the listing goes through the
    Hadoop FileSystem API and the rename becomes a conditional PUT —
    the PROTOCOL (staging dir + manifest commit point + manifest-only
    reads) is the part that carries over unchanged.  Two concurrent
    committers can race to the same seq; every reader deterministically
    resolves max (seq, txid), so one racer wins everywhere and the
    other's files become orphaned garbage — serializable commits would
    add a compare-and-swap on the manifest name, which object stores
    offer as conditional PUT.

    ``zorder_by`` lays the staged files out on a Morton curve over the
    listed columns (range-partition + in-partition sort on the
    interleaved key, :func:`zorder_key`) across ``zorder_files`` files,
    and ``stats_cols`` records per-file [min, max] envelopes — read
    from the parquet FOOTERS, no extra scan — in the manifest, which
    :func:`read_parquet_atomic` uses to SKIP whole files against a
    predicate.  Together they are the coarse pruning layer under every
    lakehouse table: at 100 TB a needle query should open dozens of
    files, not millions.

    ``txid`` makes the commit IDEMPOTENT: a caller-supplied transaction
    id (e.g. a streaming micro-batch id) that is recorded in the
    manifest; if it was already committed, the write is skipped and
    the newest manifest returned.  This is the txnAppId/txnVersion
    pattern that turns at-least-once foreachBatch replays into
    exactly-once table commits.  Callers MUST namespace the id per
    writer identity (streaming.write_stream_atomic prefixes a
    checkpoint-anchored app id) — bare epoch numbers collide across
    queries.  The seen-txid registry is carried forward in each
    manifest — ``...-batch-<epoch>``-shaped ids compact into a per-app
    HIGH WATERMARK (bounded manifest size at any batch count;
    watermark semantics are sound because epochs commit in order per
    app), irregular ids into an explicit list — so the replay check
    reads ONE manifest (picked from the filename-encoded seq without
    parsing history) and vacuuming old manifests cannot forget a
    committed id.  Tables written before the registry existed fall
    back to a one-time full-history scan, harvested into the registry
    at the next commit.

    ``checks`` maps constraint names to boolean SQL expression strings
    (CHECK constraints) and is TABLE-SCOPED: constraints are stored in
    the manifest, carried forward on every append (unioned with any
    new ones this call adds) and replaced by an overwrite — so a
    writer that omits the argument is still bound by the table's
    stored constraints, the Delta model.  One aggregate pass counts
    violations; a non-zero count REFUSES the commit before any bytes
    land, and the batch is persisted across check + write so a
    non-deterministic DataFrame cannot pass the check with one
    materialization and commit another.  NULL results count as
    violations — deliberate deviation from SQL CHECK (silent
    NULL-passes are the data-quality bug this exists to catch;
    SURVEY.md SC-8).  Callers wanting SQL three-valued semantics for a
    constraint spell it in the expression: ``COALESCE(<expr>, TRUE)``
    — it round-trips through the manifest unchanged.  On
    APPEND the batch schema is also ENFORCED against the snapshot
    schema: additive columns are fine, a type change on an existing
    column raises (nullability-normalized — equal structures never
    refuse; overwrite replaces the schema and is exempt); the type
    check runs fail-fast at entry AND again against the commit-point
    manifest read, closing the staging-long race a concurrent
    migration would otherwise win.

    ``carry_checks`` (overwrite-only) stores the given constraint set
    in the new manifest WITHOUT validating the batch against it — the
    escape hatch for pure physical rewrites (compaction/OPTIMIZE),
    whose rows already live in the table: re-validating would turn a
    relayout into a retroactive data gate (a constraint added after
    old rows were written may legally be violated by them, the Delta
    model), while omitting the set would silently strip the table's
    constraints and leave every future append unguarded.  Constraints
    passed via ``checks`` are still validated and take precedence on
    name collision.
    """
    import json
    import os
    import uuid

    if carry_checks and mode != "overwrite":
        raise ValueError(
            "carry_checks is for physical-rewrite overwrites only; "
            "append carries the stored constraint set automatically"
        )
    if txid is not None:
        if not _re.fullmatch(r"[A-Za-z0-9_.-]{1,100}", txid):
            raise ValueError("txid must be [A-Za-z0-9_.-]{1,100}")
        newest_name, newest_meta = _newest_manifest_entry(path)
        if _txid_committed(path, newest_meta, txid):
            return os.path.join(path, newest_name)  # replay no-op
    else:
        txid = uuid.uuid4().hex[:12]
    # SCHEMA ENFORCEMENT (append): additive evolution is welcome, but
    # a column whose TYPE differs from the snapshot schema would
    # poison every future read of the table (mixed-type files under
    # one stored schema) — refuse before any bytes land, like every
    # production table format.  Overwrite replaces the schema, so it
    # is exempt.  Early fail-fast check here; RE-CHECKED against the
    # commit-point manifest read below, so a concurrent schema
    # migration during the staging write is also caught.
    early_meta: dict = {}
    if mode == "append":
        early_meta = _newest_manifest_meta(path)
        _enforce_append_types(early_meta.get("schema"), df.schema)
    # CHECK CONSTRAINTS: TABLE-SCOPED named boolean SQL expressions
    # every appended row must satisfy (the Delta model — constraints
    # are table metadata binding ALL writers, not a per-call
    # courtesy).  Constraints given here are unioned with the ones
    # stored in the table's manifest (an overwrite replaces the
    # stored set with this call's); one aggregate pass counts
    # violations per constraint and any violation refuses the commit
    # before staging.  NULL check results count as violations (SQL
    # CHECK accepts NULL; for data-quality gating a silent NULL-pass
    # is the bug, not the feature — documented deviation).  The batch
    # is PERSISTED across check + write so a non-deterministic
    # DataFrame cannot pass the check with one materialization and
    # commit another.
    stored_checks = (
        dict(early_meta.get("checks", {})) if mode == "append" else {}
    )
    active_checks = {**stored_checks, **(checks or {})}
    df_persisted = False
    if active_checks:
        # Pre-resolve every constraint against THIS batch's columns:
        # type-only schema enforcement legally admits an additive batch
        # missing a constrained column, and F.expr would then die with
        # a raw AnalysisException inside the violation aggregate.
        # Resolve each expression individually (driver-side analysis,
        # no job) so the refusal names the constraint.
        from pyspark.errors import AnalysisException

        for _name, _sql in active_checks.items():
            try:
                df.select(F.expr(_sql)).schema
            except AnalysisException as exc:
                raise ValueError(
                    f"check constraint {_name!r} ({_sql}) cannot be "
                    f"evaluated against this batch (columns: "
                    f"{df.columns}) — it likely references a column "
                    f"absent from the append; include the constrained "
                    f"column or drop the constraint via overwrite"
                ) from exc
        df = df.persist()
        df_persisted = True
        viol = df.agg(
            *[
                F.sum(
                    F.when(
                        F.coalesce(F.expr(sql), F.lit(False)), 0
                    ).otherwise(1)
                ).alias(name)
                for name, sql in active_checks.items()
            ]
        ).collect()[0]
        bad = {n: int(viol[n]) for n in active_checks if viol[n]}
        if bad:
            df.unpersist()
            raise ValueError(f"check constraints violated: {bad}")
    staging = os.path.join(path, f"_staging_{txid}")
    if zorder_by:
        zdf, zkey = zorder_key(df, zorder_by)
        (
            zdf.repartitionByRange(int(zorder_files), F.col(zkey))
            .sortWithinPartitions(zkey)
            .drop(zkey)
            .write.mode("overwrite")
            .parquet(staging)
        )
    else:
        df.write.mode("overwrite").parquet(staging)
    files = sorted(
        os.path.join(f"_staging_{txid}", f)
        for f in os.listdir(staging)
        if f.endswith(".parquet")
    )
    stats: dict[str, dict] = {}
    if stats_cols:
        for rel in files:
            stats[rel] = _parquet_file_stats(
                os.path.join(path, rel), list(stats_cols)
            )
    os.makedirs(path, exist_ok=True)
    # ONE consistent read of the previous snapshot: seq, files, stats,
    # and the txid registry all come from the same manifest — reading
    # them in separate listings would let a concurrent commit land in
    # between, producing a manifest whose txids acknowledge a
    # transaction whose files it silently dropped
    prev = _newest_manifest_meta(path)
    prev_files = list(prev.get("files", []))
    prev_stats = dict(prev.get("stats", {}))
    if mode == "append":
        files = prev_files + files
        stats = {**prev_stats, **stats}
        # re-run the (driver-cheap) type check against the SAME
        # manifest the commit merges from: a schema migration that
        # landed during the staging write is caught here instead of
        # publishing mixed-type files under the migrated schema
        _enforce_append_types(prev.get("schema"), df.schema)
        # constraints added OR MODIFIED on the table while this batch
        # staged bind it too — fail rather than publish a batch that
        # was validated against a stale constraint set.  A (name, sql)
        # pair in the commit-point manifest conflicts when it matches
        # neither what this write validated (active_checks) nor what
        # the table stored when the write began (stored_checks) — the
        # second clause keeps a caller's deliberate same-name
        # constraint update from self-conflicting when nothing moved
        # concurrently.
        late_checks = {
            k: v
            for k, v in dict(prev.get("checks", {})).items()
            if v != active_checks.get(k) and v != stored_checks.get(k)
        }
        if late_checks:
            if df_persisted:
                df.unpersist()
            raise ValueError(
                "check constraints added or modified concurrently "
                f"during this write: {sorted(late_checks)}; retry the "
                "append"
            )
        # Merge the COMMIT-POINT stored set with only THIS CALL'S own
        # constraints — not the full begin-time active_checks: merging
        # the stale stored_checks back in would silently resurrect any
        # constraint a concurrent writer DROPPED while this batch
        # staged (round-8 ADVICE: adds/modifies conflict above, but
        # drops were lost-updates).  A concurrent drop needs no
        # conflict: it only relaxes what this batch already validated.
        active_checks = {**dict(prev.get("checks", {})), **(checks or {})}
    elif mode != "overwrite":
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    if df_persisted:
        df.unpersist()
    seq = int(prev.get("seq", 0)) + 1
    txids, watermarks = _txid_record(path, prev, txid)
    return _commit_manifest_json(
        path,
        seq,
        txid,
        {
            "seq": seq,
            "txid": txid,
            "txids": txids,
            "tx_watermarks": watermarks,
            "files": files,
            "stats": stats,
            # Logical schema of THIS snapshot (Spark StructType json):
            # lets readers materialize a correct empty DataFrame when
            # the snapshot has zero files or stats pruning drops every
            # file.  On APPEND it is the MERGE of the previous
            # snapshot's schema and the batch's (additive evolution —
            # retained files may carry columns this batch lacks).
            "schema": _snapshot_schema_json(
                prev.get("schema") if mode == "append" else None,
                df.schema,
            ),
            # Table-scoped CHECK constraints: carried forward on
            # append (plus this call's), replaced on overwrite — so
            # every future append is bound regardless of which writer
            # spelled them first.  Physical rewrites carry the prior
            # set unvalidated via carry_checks (validated checks win
            # name collisions).
            "checks": {**(carry_checks or {}), **active_checks},
        },
    )


def _normalize_nullable(dt):
    """Recursively set every nullable/containsNull/valueContainsNull
    flag to True so type equality compares STRUCTURE, not the
    incidental nullability a builder happened to produce (F.struct /
    F.array emit non-null inner flags that a stored schema read back
    from json reports as nullable — identical simpleStrings, spurious
    'type change')."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(f.name, _normalize_nullable(f.dataType), True)
                for f in dt.fields
            ]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_normalize_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(
            _normalize_nullable(dt.keyType),
            _normalize_nullable(dt.valueType),
            True,
        )
    return dt


def _enforce_append_types(prev_schema_raw, batch_schema) -> None:
    """Refuse an append whose batch changes the TYPE of a column the
    snapshot schema already carries (additive columns are fine) —
    nullability-normalized so equal structures never refuse."""
    import json as _json

    if not prev_schema_raw:
        return
    from pyspark.sql.types import StructType

    prev_fields = {
        f.name: _normalize_nullable(f.dataType)
        for f in StructType.fromJson(_json.loads(prev_schema_raw)).fields
    }
    for f in batch_schema.fields:
        if f.name in prev_fields:
            got = _normalize_nullable(f.dataType)
            if got != prev_fields[f.name]:
                raise ValueError(
                    f"schema enforcement: column {f.name!r} is "
                    f"{prev_fields[f.name].simpleString()} in the "
                    f"table but {f.dataType.simpleString()} in the "
                    "batch; type changes need an explicit "
                    "overwrite migration"
                )


def _commit_manifest_json(
    path: str, seq: int, txid: str, meta: dict
) -> str:
    """Publish a manifest dict atomically (temp + rename — the commit
    point) with the crash-test failpoints.  Shared by the writer and
    the incremental compactor so both commit identically."""
    import json
    import os

    manifest = os.path.join(path, f"manifest-{seq:010d}-{txid}.json")
    tmp = manifest + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    if _FAILPOINT_BEFORE_COMMIT is not None:
        _FAILPOINT_BEFORE_COMMIT(path, txid)
    os.rename(tmp, manifest)  # the commit point
    if _FAILPOINT_AFTER_COMMIT is not None:
        _FAILPOINT_AFTER_COMMIT(path, txid)
    return manifest


#: Fault-injection hooks for crash tests ONLY (never set outside
#: tests).  BEFORE: called with (path, txid) after the staging write
#: and manifest temp file exist but before the atomic rename publishes
#: the commit — raising leaves exactly the on-disk state of a writer
#: killed mid-commit (orphan staging dir + torn .tmp manifest), the
#: state readers must never observe and restart must recover from.
#: AFTER: called just after the rename — raising simulates death
#: between the table commit and the streaming checkpoint advance, the
#: at-least-once replay window the txid dedup exists for.
_FAILPOINT_BEFORE_COMMIT = None
_FAILPOINT_AFTER_COMMIT = None


#: RESERVED streaming txid namespace ("app-<id>-batch-<epoch>", minted
#: only by streaming.write_stream_atomic) compacts into a per-app HIGH
#: WATERMARK instead of an ever-growing list — epochs commit in order
#: within one app/checkpoint, so "epoch ≤ watermark" is exactly
#: "already committed", and a million micro-batches cost one dict entry
#: in the manifest, not a million list items.  The pattern is anchored
#: to the reserved prefix: arbitrary caller ids that merely END in
#: "-batch-<n>" keep exact list semantics (an out-of-order backfill id
#: must NOT be swallowed as a replay by a watermark).
import re as _re

_TX_BATCH_RE = _re.compile(r"(app-[A-Za-z0-9]+-batch-)(\d{1,18})")


def _historical_txids(path: str) -> set[str]:
    """All txids ever committed, by scanning every manifest's own
    'txid' field — the pre-upgrade fallback (old manifests carry no
    cumulative 'txids' list).  Used once per legacy table; after the
    first new-format commit the cumulative registry takes over."""
    import json
    import os

    seen: set[str] = set()
    if not os.path.isdir(path):
        return seen
    for name in os.listdir(path):
        if name.startswith("manifest-") and name.endswith(".json"):
            with open(os.path.join(path, name)) as fh:
                t = json.load(fh).get("txid")
            if t:
                seen.add(t)
    return seen


def _txid_committed(path: str, newest_meta: dict, txid: str) -> bool:
    m = _TX_BATCH_RE.fullmatch(txid)
    if m:
        wm = newest_meta.get("tx_watermarks", {})
        if m.group(1) in wm and int(m.group(2)) <= int(wm[m.group(1)]):
            return True
    if txid == newest_meta.get("txid") or txid in newest_meta.get(
        "txids", []
    ):
        return True
    if newest_meta and "txids" not in newest_meta:
        # legacy table written before the cumulative registry existed
        return txid in _historical_txids(path)
    return False


def _txid_record(
    path: str, prev_meta: dict, txid: str
) -> tuple[list[str], dict]:
    """(txids list, tx_watermarks) for the next manifest: batch-shaped
    ids advance their app watermark, irregular ids append to the list.
    A legacy table's full txid history is harvested ONCE here so the
    upgrade cannot forget pre-upgrade commits."""
    watermarks = {
        k: int(v) for k, v in prev_meta.get("tx_watermarks", {}).items()
    }

    def absorb(t: str, into: list[str]) -> None:
        m = _TX_BATCH_RE.fullmatch(t)
        if m:
            pfx, epoch = m.group(1), int(m.group(2))
            watermarks[pfx] = max(watermarks.get(pfx, -1), epoch)
        elif t not in into:
            into.append(t)

    if prev_meta and "txids" not in prev_meta:
        # one-time legacy harvest, COMPACTED: reserved-namespace ids go
        # to watermarks, so an upgraded streaming table's manifest stays
        # bounded instead of carrying every historical epoch as a list
        txids: list[str] = []
        for t in sorted(_historical_txids(path)):
            absorb(t, txids)
    else:
        txids = list(prev_meta.get("txids", []))
    absorb(txid, txids)
    return txids, watermarks


def list_manifests(path: str) -> list[tuple[tuple[int, str], str]]:
    """All committed manifests as ((seq, txid), filename), sorted in
    commit order — seq and txid are parsed from the FILENAME
    (manifest-{seq:010d}-{txid}.json), the single encoding every
    snapshot-resolution code path (reader, vacuum, CLI) must share."""
    import os

    out = []
    if not os.path.isdir(path):
        return out
    for name in os.listdir(path):
        if name.startswith("manifest-") and name.endswith(".json"):
            parts = name[len("manifest-") : -len(".json")].split("-", 1)
            try:
                key = (int(parts[0]), parts[1] if len(parts) > 1 else "")
            except ValueError:
                continue
            out.append((key, name))
    out.sort()
    return out


def _snapshot_schema_json(prev_raw, batch_schema) -> str:
    """Merge a previous snapshot's stored schema (json string or None)
    with an appended batch's StructType: previous fields keep their
    position/type, batch-only fields append — the additive-evolution
    union a reader of ALL the snapshot's files would infer."""
    import json

    if not prev_raw:
        return batch_schema.json()
    from pyspark.sql.types import StructType

    prev_schema = StructType.fromJson(json.loads(prev_raw))
    have = {f.name for f in prev_schema.fields}
    merged = list(prev_schema.fields) + [
        f for f in batch_schema.fields if f.name not in have
    ]
    return StructType(merged).json()


def _newest_manifest_entry(path: str) -> tuple[str, dict]:
    """(filename, parsed meta) of the newest committed manifest, or
    ("", {}).  Tie-break equal seqs by txid so snapshot selection is
    DETERMINISTIC when two committers raced to the same seq — every
    reader resolves the same winner regardless of listing order (the
    loser's files become orphaned garbage, same as a crashed writer).

    seq and txid are encoded in the manifest FILENAME
    (manifest-{seq:010d}-{txid}.json), so the winner is picked from
    the directory listing alone and only ONE file is parsed — a table
    with thousands of committed batches costs one open per read, not
    a full-history JSON parse."""
    import json
    import os

    entries = list_manifests(path)
    if not entries:
        return "", {}
    best_name = entries[-1][1]
    with open(os.path.join(path, best_name)) as fh:
        return best_name, json.load(fh)


def _newest_manifest_meta(path: str) -> dict:
    return _newest_manifest_entry(path)[1]


def _newest_manifest_full(path: str) -> tuple[int, list[str], dict]:
    m = _newest_manifest_meta(path)
    return (
        int(m.get("seq", 0)),
        list(m.get("files", [])),
        dict(m.get("stats", {})),
    )


def _newest_manifest(path: str) -> tuple[int, list[str]]:
    seq, files, _ = _newest_manifest_full(path)
    return seq, files


def _prune_by_stats(
    files: list[str], stats: dict, predicate: dict
) -> tuple[list[str], int]:
    """Keep files whose [min, max] envelope intersects every
    ``col: (lo, hi)`` range; files lacking stats for a predicate column
    are conservatively kept.  Returns (kept, n_skipped)."""
    kept = []
    for rel in files:
        fstats = stats.get(rel, {})
        keep = True
        for col, (lo, hi) in predicate.items():
            mm = fstats.get(col)
            if mm is None:
                continue
            mn, mx = mm
            if (hi is not None and mn > hi) or (lo is not None and mx < lo):
                keep = False
                break
        if keep:
            kept.append(rel)
    return kept, len(files) - len(kept)


def _manifest_meta(path: str, as_of_seq: int | None = None) -> dict:
    """Parsed manifest of the newest snapshot (as_of_seq=None) or a
    specific historical seq — THE single manifest-resolution helper
    (snapshot files, stats, and schema readers all go through it, so
    the naming scheme and raced-commit tie-break live in one place).
    Raises FileNotFoundError when no matching committed manifest
    exists; an existing manifest with an empty files list is returned
    as-is (a legitimate empty snapshot)."""
    import json
    import os

    if as_of_seq is None:
        meta = _newest_manifest_meta(path)
        if not meta:
            raise FileNotFoundError(f"no committed manifest under {path}")
        return meta
    meta = None
    for name in sorted(os.listdir(path) if os.path.isdir(path) else []):
        if name.startswith(f"manifest-{as_of_seq:010d}-") and name.endswith(
            ".json"
        ):
            # ties on seq resolve to the LAST (largest txid) like
            # _newest_manifest_entry's deterministic winner rule
            with open(os.path.join(path, name)) as fh:
                meta = json.load(fh)
    if meta is None:
        raise FileNotFoundError(
            f"no committed manifest with seq={as_of_seq} under {path}"
        )
    return meta


def atomic_snapshot_files(
    path: str,
    as_of_seq: int | None = None,
    predicate: dict | None = None,
) -> tuple[list[str], int]:
    """Resolve a snapshot's file list, optionally pruned by the
    manifest's per-file column stats.  ``predicate`` maps column →
    ``(lo, hi)`` inclusive bounds (either side None for unbounded).
    Returns (relative paths kept, files skipped by stats)."""
    import json
    import os

    meta = _manifest_meta(path, as_of_seq)
    # A committed manifest with an EMPTY files list is a legitimate
    # empty snapshot (overwrite of an empty DataFrame), not a missing
    # table — return ([], 0) and let the reader build the empty frame
    # from the stored schema.
    files = list(meta.get("files", []))
    stats = dict(meta.get("stats", {}))
    if predicate:
        return _prune_by_stats(files, stats, predicate)
    return files, 0


def read_parquet_atomic(
    spark: SparkSession,
    path: str,
    as_of_seq: int | None = None,
    predicate: dict | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """Read the dataset as of a committed manifest — staged but
    uncommitted files are invisible, so readers always see a consistent
    snapshot (crashed writers leave no torn reads).

    ``as_of_seq`` reads a HISTORICAL snapshot (time travel): manifests
    are immutable and data files are never rewritten in place, so every
    committed seq stays readable until a retention job prunes it —
    the same property Iceberg/Delta time travel rests on.

    ``predicate`` (column → (lo, hi)) SKIPS files whose manifest
    min/max envelope can't contain matches — coarse pruning ahead of
    Spark's own row-group pushdown.  It is an optimization hint only:
    the caller still applies the real filter (files kept may contain
    non-matching rows).  Pair with ``zorder_by`` at write time so the
    envelopes are tight on every predicate dimension.

    ``merge_schema=True`` unions the per-file schemas (schema
    EVOLUTION): files appended before a column existed read as NULL
    for it — additive evolution without rewriting history, the
    Iceberg/Delta add-column semantics.  Default off: schema merging
    reads every file footer up front."""
    import os

    files, _ = atomic_snapshot_files(path, as_of_seq, predicate)
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    if not files:
        # Every file pruned, or a committed EMPTY snapshot (overwrite of
        # an empty DataFrame): empty result with the snapshot's schema.
        # Prefer the schema stored in the manifest (always present for
        # manifests written since the schema field landed); fall back to
        # a base file's footer only when the snapshot has files.
        stored = atomic_snapshot_schema(path, as_of_seq)
        if stored is not None:
            return spark.createDataFrame([], stored)
        base, _ = atomic_snapshot_files(path, as_of_seq)
        if not base:
            raise ValueError(
                f"snapshot at {path} (seq={as_of_seq}) is empty and its "
                "manifest predates the stored-schema field; cannot "
                "materialize an empty DataFrame without a schema"
            )
        return reader.parquet(os.path.join(path, base[0])).limit(0)
    return reader.parquet(*[os.path.join(path, f) for f in files])


def atomic_snapshot_schema(path: str, as_of_seq: int | None = None):
    """The StructType stored in a snapshot's manifest, or None for
    manifests written before the schema field existed.  This is what
    makes a zero-file snapshot readable."""
    import json
    import os

    from pyspark.sql.types import StructType

    meta = _manifest_meta(path, as_of_seq)
    raw = meta.get("schema")
    return None if raw is None else StructType.fromJson(json.loads(raw))


def read_parquet_atomic_incremental(
    spark: SparkSession, path: str, from_seq: int, to_seq: int | None = None
) -> DataFrame:
    """Incremental consumption: rows in files ADDED between snapshot
    ``from_seq`` (exclusive) and ``to_seq`` (inclusive; default
    newest).  For an append-only table this IS the change stream — the
    consumer checkpoints the last seq it processed and each run reads
    only the delta, which is how 100 TB tables feed downstream
    pipelines without nightly full rescans (Delta CDF / Iceberg
    incremental reads).  Raises on a non-append history (a file
    present at from_seq but missing later means an overwrite/compaction
    rewrote history — the consumer must fall back to a full diff,
    cf. q_snapshot_diff)."""
    import os

    base, _ = atomic_snapshot_files(path, as_of_seq=from_seq)
    newer, _ = (
        atomic_snapshot_files(path)
        if to_seq is None
        else atomic_snapshot_files(path, as_of_seq=to_seq)
    )
    base_set = set(base)
    missing = base_set - set(newer)
    if missing:
        raise ValueError(
            f"non-append history between seq {from_seq} and "
            f"{to_seq if to_seq is not None else 'newest'}: "
            f"{len(missing)} file(s) from the base snapshot were "
            "rewritten; incremental read is not sound — run a full diff"
        )
    added = [f for f in newer if f not in base_set]
    if not added:
        return spark.createDataFrame([], read_parquet_atomic(spark, path).schema)
    return spark.read.parquet(*[os.path.join(path, f) for f in added])


def vacuum_parquet_atomic(
    path: str,
    keep_last_n: int = 1,
    remove_staging_orphans: bool = True,
    staging_grace_seconds: float = 24 * 3600.0,
) -> dict:
    """Garbage-collect the atomic table: delete manifests older than
    the newest ``keep_last_n`` snapshots, data files no retained
    manifest references, and orphaned staging directories from crashed
    or raced writers.  The VACUUM / expire-snapshots maintenance every
    manifest-based table needs — without it a 100 TB table's storage
    grows with every overwrite forever.  Time travel remains valid for
    all RETAINED seqs.  Returns counts.

    Staging cleanup is MTIME-AGED (the Delta/Iceberg retention
    pattern): an unreferenced ``_staging_*`` dir is removed only when
    every file in it is older than ``staging_grace_seconds`` (default
    24 h), so a CONCURRENT in-flight writer — whose staging dir is by
    definition fresh — is never swept out from under its not-yet-
    published manifest.  ``staging_grace_seconds=0`` restores the
    aggressive post-crash cleanup (only safe when no writer can be
    in flight); ``remove_staging_orphans=False`` disables staging
    cleanup entirely."""
    import json
    import os
    import shutil
    import time

    if keep_last_n < 1:
        raise ValueError("keep_last_n must be >= 1")
    manifests = []
    if os.path.isdir(path):
        for name in sorted(os.listdir(path)):
            if name.startswith("manifest-") and name.endswith(".json"):
                with open(os.path.join(path, name)) as fh:
                    m = json.load(fh)
                manifests.append(
                    ((int(m["seq"]), str(m.get("txid", ""))), name, m)
                )
    manifests.sort(key=lambda t: t[0])
    keep = manifests[-keep_last_n:]
    drop = manifests[:-keep_last_n]
    referenced: set[str] = set()
    for _, _, m in keep:
        referenced.update(m["files"])
    n_manifests = n_files = n_staging = 0
    for _, name, m in drop:
        for rel in m["files"]:
            if rel in referenced:
                continue
            fp = os.path.join(path, rel)
            if os.path.exists(fp):
                os.remove(fp)
                n_files += 1
        os.remove(os.path.join(path, name))
        n_manifests += 1
    referenced_dirs = {rel.split(os.sep)[0] for rel in referenced}

    def newest_mtime(root: str) -> float:
        """Newest mtime across the WHOLE tree (Spark writers nest
        everything under _temporary/0/task_*/ — a one-level scan would
        see only the job-start mtime and age out an ACTIVE writer).
        A path vanishing mid-walk means a concurrent writer just
        moved/committed it — treat the dir as freshly active rather
        than crashing or deleting it."""
        try:
            newest = os.path.getmtime(root)
        except OSError:
            return float("inf")
        for sub, _dirs, files in os.walk(root):
            try:
                newest = max(newest, os.path.getmtime(sub))
                for entry in files:
                    newest = max(
                        newest, os.path.getmtime(os.path.join(sub, entry))
                    )
            except OSError:
                return float("inf")
        return newest

    if remove_staging_orphans:
        cutoff = time.time() - max(0.0, staging_grace_seconds)
        for name in os.listdir(path):
            full = os.path.join(path, name)
            if (
                name.startswith("_staging_")
                and os.path.isdir(full)
                and name not in referenced_dirs
            ):
                if newest_mtime(full) <= cutoff:
                    shutil.rmtree(full, ignore_errors=True)
                    n_staging += 1
        # prune now-empty staging dirs whose files were all deleted —
        # same opt-in and grace as the orphan sweep (an empty dir can
        # be a writer between its mkdir and the first file landing)
        for name in os.listdir(path):
            full = os.path.join(path, name)
            if (
                name.startswith("_staging_")
                and os.path.isdir(full)
                and not os.listdir(full)
                and newest_mtime(full) <= cutoff
            ):
                try:
                    os.rmdir(full)
                except OSError:
                    pass  # a writer raced a file in; leave it
    return {
        "manifests_removed": n_manifests,
        "data_files_removed": n_files,
        "staging_dirs_removed": n_staging,
    }


def compact_parquet_atomic(
    spark: SparkSession, path: str, target_files: int = 1
) -> str:
    """Compact the newest snapshot's files into ``target_files`` and
    publish the result as a new OVERWRITE snapshot — the small-files
    remedy every append-heavy 100 TB table needs (thousands of tiny
    appended files destroy scan/listing performance; object stores
    price per request).

    Readers are never disturbed: the compacted data lands in a fresh
    staging dir and becomes visible only at its manifest commit point;
    prior snapshots (and any reader pinned to them) remain intact —
    compaction is a pure physical rewrite, byte-identical rows.

    CONFLICT CHECK: the overwrite manifest would silently drop any
    append committed between the compactor's read and its commit, so
    the commit is refused (ValueError — caller retries) if the newest
    seq moved during the rewrite.  A residual check-to-commit window
    remains on plain POSIX; true serialization is the conditional-PUT
    CAS the protocol docstring names for object stores.

    The table's CHECK constraints are CARRIED THROUGH the rewrite
    unvalidated (``carry_checks`` — same rule as
    :func:`optimize_parquet_atomic`): a compaction is a physical
    relayout of rows that already live in the table, so it neither
    re-gates them (a later-added constraint may legally predate old
    rows) nor strips the stored set (which would leave every future
    append unguarded)."""
    base_meta = _newest_manifest_meta(path)
    base_seq = int(base_meta.get("seq", 0))
    df = read_parquet_atomic(spark, path).coalesce(int(target_files))
    # materialize the rewrite BEFORE re-checking: the write is the
    # slow part, so the race window shrinks to the manifest publish
    staged = df.persist()
    staged.count()
    try:
        now_seq, _ = _newest_manifest(path)
        if now_seq != base_seq:
            raise ValueError(
                f"compaction conflict: snapshot advanced {base_seq} -> "
                f"{now_seq} during rewrite; retry"
            )
        return write_parquet_atomic(
            staged,
            path,
            mode="overwrite",
            carry_checks=dict(base_meta.get("checks", {})),
        )
    finally:
        staged.unpersist()


#: Test-only failpoint: called after the optimize rewrite lands in
#: staging but BEFORE the conflict re-check — lets tests inject a
#: concurrent append into exactly the race window the check guards.
_FAILPOINT_OPTIMIZE_BEFORE_CHECK = None


def _binpack_ffd(
    sized: list[tuple[str, int]], target_bytes: int
) -> tuple[list[list[str]], list[str]]:
    """First-fit-decreasing packing for OPTIMIZE: sort by size desc
    (ties broken by the stable name order — deterministic plans), drop
    each item into the first bin with room, open a new bin otherwise.
    Classic 11/9-OPT guarantee.  Returns (multi-item bins, demoted
    singletons) — a bin that would hold one file is never rewritten
    (1→1 buys nothing), it is handed back for the caller to keep.
    Property-gated in tests/test_property_round4c.py: bins cover the
    input exactly once, every multi-item bin respects target_bytes,
    and the packing is permutation-invariant."""
    bins: list[list[str]] = []
    loads: list[int] = []
    for rel, sz in sorted(sized, key=lambda t: (-t[1], t[0])):
        for i, load in enumerate(loads):
            if load + sz <= target_bytes:
                bins[i].append(rel)
                loads[i] += sz
                break
        else:
            bins.append([rel])
            loads.append(sz)
    singletons = [b[0] for b in bins if len(b) == 1]
    return [b for b in bins if len(b) > 1], singletons


def optimize_parquet_atomic(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    small_file_bytes: int | None = None,
    dry_run: bool = False,
) -> dict:
    """INCREMENTAL bin-packed compaction — the OPTIMIZE every
    append-heavy table needs at 100 TB, where
    :func:`compact_parquet_atomic`'s whole-snapshot rewrite is not an
    option: only files smaller than ``small_file_bytes`` (default
    ``target_bytes // 2``) are rewritten, first-fit-decreasing packed
    into bins of at most ``target_bytes``; every other file is carried
    into the new manifest UNTOUCHED (a manifest is just a file list,
    so referencing bytes from older snapshots is free — the
    Delta/Iceberg OPTIMIZE shape).  Bins that would hold a single file
    are left alone (a 1→1 rewrite buys nothing).

    Byte-identical rows, pure physical re-layout: readers pinned to
    prior snapshots are undisturbed, time travel stays valid, and
    :func:`vacuum_parquet_atomic` keeps every file the new manifest
    references (its retention is reference-based, not age-based).
    Rewritten bins are read under the SNAPSHOT schema, so
    additive-evolution files merge correctly (old files' missing
    columns surface as nulls, exactly as a reader would see them).
    Per-file [min, max] stats envelopes are recomputed from the new
    files' footers when the table carries stats, so file-skipping
    keeps working across an optimize.

    CONFLICT CHECK (same rule as compact): the new manifest would
    silently drop an append committed after the planning read, so the
    commit is refused (ValueError — caller retries) if the newest seq
    moved during the rewrite.

    ``dry_run=True`` returns the plan (counts + bins) without touching
    storage.  Returns a dict with ``kept_files``, ``rewritten_files``,
    ``bins``, ``manifest`` (None when nothing to do or dry-run).
    """
    import json
    import os
    import uuid

    from pyspark.sql.types import StructType

    prev_name, prev = _newest_manifest_entry(path)
    files = list(prev.get("files", []))
    if small_file_bytes is None:
        small_file_bytes = target_bytes // 2
    sized = []
    for rel in files:
        fp = os.path.join(path, rel)
        sized.append((rel, os.path.getsize(fp)))
    eligible = [(r, s) for r, s in sized if s < small_file_bytes]
    kept = [r for r, s in sized if s >= small_file_bytes]
    bins, singletons = _binpack_ffd(eligible, target_bytes)
    kept += singletons
    plan = {
        "kept_files": len(kept),
        "rewritten_files": sum(len(b) for b in bins),
        "bins": len(bins),
        "manifest": None,
    }
    if dry_run or not bins:
        return plan
    schema_raw = prev.get("schema")
    reader = spark.read
    if schema_raw:
        reader = reader.schema(StructType.fromJson(json.loads(schema_raw)))
    else:
        # legacy manifest with no stored schema: merge footers so a
        # bin mixing pre- and post-evolution files cannot silently
        # drop the newer files' columns from the rewrite
        reader = reader.option("mergeSchema", "true")
    txid = uuid.uuid4().hex[:12]
    staging = os.path.join(path, f"_staging_{txid}")
    new_rels: list[str] = []
    for i, bin_files in enumerate(bins):
        out_dir = os.path.join(staging, f"bin-{i:05d}")
        reader.parquet(
            *[os.path.join(path, rel) for rel in bin_files]
        ).coalesce(1).write.mode("overwrite").parquet(out_dir)
        new_rels.extend(
            sorted(
                os.path.join(f"_staging_{txid}", f"bin-{i:05d}", f)
                for f in os.listdir(out_dir)
                if f.endswith(".parquet")
            )
        )
    if _FAILPOINT_OPTIMIZE_BEFORE_CHECK is not None:
        _FAILPOINT_OPTIMIZE_BEFORE_CHECK(path, txid)
    now_name, now = _newest_manifest_entry(path)
    if now_name != prev_name:
        raise ValueError(
            "optimize conflict: snapshot advanced "
            f"{prev.get('seq')} -> {now.get('seq')} during rewrite; retry"
        )
    prev_stats = dict(prev.get("stats", {}))
    stats = {rel: prev_stats[rel] for rel in kept if rel in prev_stats}
    stats_cols = sorted(
        {c for per_file in prev_stats.values() for c in per_file}
    )
    if stats_cols:
        for rel in new_rels:
            stats[rel] = _parquet_file_stats(
                os.path.join(path, rel), stats_cols
            )
    seq = int(prev.get("seq", 0)) + 1
    txids, watermarks = _txid_record(path, prev, txid)
    plan["manifest"] = _commit_manifest_json(
        path,
        seq,
        txid,
        {
            "seq": seq,
            "txid": txid,
            "txids": txids,
            "tx_watermarks": watermarks,
            # kept first, then rewritten — stable, and keeps the file
            # list deterministic for manifest diffing
            "files": sorted(kept) + new_rels,
            "stats": stats,
            "schema": schema_raw,
            # pure physical re-layout: table-scoped CHECK constraints
            # carry through unchanged
            "checks": dict(prev.get("checks", {})),
        },
    )
    return plan


# --- spline-fit plot sink (dependency-free SVG) --------------------------


def write_spline_plot_svg(
    bin_stats,
    curve,
    path: str,
    title: str = "fit-hi-c null model",
    width: int = 640,
    height: int = 440,
) -> None:
    """The reference's spline-fit diagnostic plot as a self-contained
    SVG — no matplotlib (absent in this environment; an ADR kept this
    sink out of scope until round 4).  Log-log axes: per-bin empirical
    contact probability (points) with the fitted monotone null curve
    (polyline).  Inputs are the outputs of
    :func:`pfithic_spark.hic.fit_null_curve`: the bin-stats frame
    (``avg_dist``/``prob``) and the ``(grid_x, grid_y)`` curve.

    Pure string generation over a ≤noOfBins-row table — driver-side by
    construction, the same sanctioned sync point the fit itself uses.
    """
    import math
    from xml.sax.saxutils import escape

    title = escape(str(title))

    xs_pt = [float(x) for x in bin_stats["avg_dist"]]
    ys_pt = [float(y) for y in bin_stats["prob"]]
    gx = [float(x) for x in curve[0]]
    gy = [float(y) for y in curve[1]]
    pos = [v for v in ys_pt + gy if v > 0] or [1e-12]
    y_floor = min(pos) / 10.0
    xs_all = [v for v in xs_pt + gx if v > 0] or [1.0]

    def lx(v):
        return math.log10(max(v, 1e-300))

    def ly(v):
        return math.log10(max(v, y_floor))

    x0, x1 = lx(min(xs_all)), lx(max(xs_all))
    y0, y1 = ly(y_floor), ly(max(pos))
    x1 = x1 if x1 > x0 else x0 + 1.0
    y1 = y1 if y1 > y0 else y0 + 1.0
    ml, mr, mt, mb = 70, 20, 40, 50  # margins

    def sx(v):
        return ml + (lx(v) - x0) / (x1 - x0) * (width - ml - mr)

    def sy(v):
        return height - mb - (ly(v) - y0) / (y1 - y0) * (height - mt - mb)

    parts = [
        f'<svg xmlns="http://www.w3.org/2000/svg" width="{width}" '
        f'height="{height}" viewBox="0 0 {width} {height}">',
        f'<rect width="{width}" height="{height}" fill="white"/>',
        f'<text x="{width // 2}" y="24" text-anchor="middle" '
        f'font-family="sans-serif" font-size="15">{title}</text>',
        # axes
        f'<line x1="{ml}" y1="{height - mb}" x2="{width - mr}" '
        f'y2="{height - mb}" stroke="black"/>',
        f'<line x1="{ml}" y1="{mt}" x2="{ml}" y2="{height - mb}" '
        f'stroke="black"/>',
        f'<text x="{(ml + width - mr) // 2}" y="{height - 12}" '
        f'text-anchor="middle" font-family="sans-serif" font-size="12">'
        f"genomic distance (log10)</text>",
        f'<text x="16" y="{(mt + height - mb) // 2}" '
        f'font-family="sans-serif" font-size="12" '
        f'transform="rotate(-90 16 {(mt + height - mb) // 2})" '
        f'text-anchor="middle">contact probability (log10)</text>',
    ]
    # decade ticks
    for dec in range(int(math.floor(x0)), int(math.ceil(x1)) + 1):
        px = ml + (dec - x0) / (x1 - x0) * (width - ml - mr)
        if ml <= px <= width - mr:
            parts.append(
                f'<line x1="{px:.1f}" y1="{height - mb}" x2="{px:.1f}" '
                f'y2="{height - mb + 5}" stroke="black"/>'
                f'<text x="{px:.1f}" y="{height - mb + 18}" '
                f'text-anchor="middle" font-family="sans-serif" '
                f'font-size="10">1e{dec}</text>'
            )
    for dec in range(int(math.floor(y0)), int(math.ceil(y1)) + 1):
        py = height - mb - (dec - y0) / (y1 - y0) * (height - mt - mb)
        if mt <= py <= height - mb:
            parts.append(
                f'<line x1="{ml - 5}" y1="{py:.1f}" x2="{ml}" '
                f'y2="{py:.1f}" stroke="black"/>'
                f'<text x="{ml - 8}" y="{py + 3:.1f}" text-anchor="end" '
                f'font-family="sans-serif" font-size="10">1e{dec}</text>'
            )
    # fitted curve
    if gx:
        pts = " ".join(f"{sx(x):.2f},{sy(y):.2f}" for x, y in zip(gx, gy))
        parts.append(
            f'<polyline points="{pts}" fill="none" stroke="#c0392b" '
            f'stroke-width="2"/>'
        )
    # empirical bin points
    for x, y in zip(xs_pt, ys_pt):
        parts.append(
            f'<circle cx="{sx(x):.2f}" cy="{sy(y):.2f}" r="3" '
            f'fill="#2c5aa0" fill-opacity="0.8"/>'
        )
    parts.append("</svg>")
    with open(path, "w") as fh:
        fh.write("\n".join(parts))
