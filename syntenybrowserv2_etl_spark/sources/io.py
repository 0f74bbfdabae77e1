"""Writers / sinks: SURVEY §2.1 S9-S11 + V2 atomic all-or-nothing semantics.

The reference's sink is a SQLite file with three write disciplines:
  - DROP+CREATE then INSERT  → overwrite        (S9, `-c` flag)
  - plain INSERT into existing → append         (S10, 2nd/3rd species)
  - INSERT OR REPLACE on PK   → last-write-wins (S11)
and transactional rollback on any IntegrityError (V2: a bad row aborts the
whole file's load — src/import_genes_exons.py:120-126).

Spark-side equivalents:
  - overwrite/append → parquet write modes (write_table), with the partition
    and in-file sort columns that plans.pipeline.TABLES gives each table, so
    parquet min/max row-group stats stand in for the reference's 15
    secondary indexes (SURVEY §4). Database tables are written zstd-
    compressed with the Parquet v2 writer, whose delta encodings store the
    sorted positions and prefixed ids compactly; the session's own codec,
    which every other write uses, is left alone.
  - INSERT OR REPLACE → dedup BEFORE the write (upsert_dedup), for the
    tables whose catalogue key policy says so.
  - transactionality → stage, check, then publish by rename. A build
    (plans.pipeline) writes every table into a staging directory beside
    the database, runs the key checks there (``assert_no_duplicates`` on
    the written parquet's key columns), and only when all pass publishes:
    ``swap_in`` renames the staged directory over the live one,
    ``move_into`` moves an append's staged files into the live table. On a
    failure the staging directory is deleted and the live data is never
    touched. Row-level aborts (V1/V2) raise before anything is written.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F


class LoadAborted(RuntimeError):
    """V2 — a validation failure aborted the whole load (no partial write)."""


def upsert_dedup(df: DataFrame, pk: list[str], arrival_col: str | None = None) -> DataFrame:
    """S11/X5 — last-write-wins dedup emulating INSERT OR REPLACE on a PK.

    Reference: src/import_synteny_blocks.py:83-88, src/import_homologs.py:114,
    src/import_ontology.py:281-284. With an explicit ``arrival_col`` the
    LAST arrival wins (replace semantics); without one, input order is not
    meaningful in a distributed read and ``dropDuplicates`` (keep-any) is
    both correct and cheaper — it map-side combines instead of a full
    window sort.
    """
    if arrival_col is None:
        return df.dropDuplicates(pk)
    w = Window.partitionBy(*pk).orderBy(F.col(arrival_col).desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def keep_first_dedup(df: DataFrame, pk: list[str], arrival_col: str) -> DataFrame:
    """X7 — duplicate-as-skip: keep FIRST arrival, silently drop later ones.

    Reference: src/import_features.py:203-210 (IntegrityError → rollback the
    row, continue the load).
    """
    w = Window.partitionBy(*pk).orderBy(F.col(arrival_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def assert_no_duplicates(df: DataFrame, pk: list[str], table: str) -> None:
    """X6 — duplicate-as-error: PK collision aborts the entire load.

    Reference: src/import_genes_exons.py:120-126,130-136 (IntegrityError →
    rollback + abort). A build runs it after the write, on the staged
    parquet's key columns (plans.pipeline.write_tables), so nothing is
    published until it passes: group by PK, any count > 1 ⇒ raise, naming
    the first offending key found.
    """
    dup = df.groupBy(*pk).count().filter(F.col("count") > 1).limit(1).collect()
    if dup:
        key = {k: dup[0][k] for k in pk}
        raise LoadAborted(f"duplicate primary key in '{table}': {key} (V2/X6 abort)")


def write_table(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    sort_within_by: list[str] | None = None,
) -> int:
    """S9/S10 — write a table as parquet with the index-emulating layout.

    ``partition_by`` (typically ["*_taxonid"]) gives partition pruning for
    the per-species query workload; ``sort_within_by`` (typically chr, start)
    orders rows inside each file so parquet row-group min/max statistics
    answer range predicates — the Spark analogue of the reference's
    (taxonid, chr, start) B-tree indexes (src/import_genes_exons.py:58-62).

    Every file is zstd-compressed and written by the Parquet v2 writer. Its
    data pages fall back from a dictionary to DELTA_BINARY_PACKED (longs)
    and DELTA_BYTE_ARRAY (strings), which store sorted positions and
    shared-prefix ids as small deltas; snappy and v1 pages (the session
    defaults) store them nearly raw. Both are per-write options, so only
    the database's tables change, not the session's other writes.

    Returns the number of rows written, measured by an ``Observation``
    attached to the write job itself — NOT a second ``df.count()`` action,
    which would recompute the whole loader DAG (at 100 TB, doubling build
    cost). In append mode this is exactly the rows added by THIS call,
    which a read-back count could not distinguish.
    """
    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    if sort_within_by:
        df = df.sortWithinPartitions(*sort_within_by)
    writer = (
        df.write.mode(mode)
        .option("compression", "zstd")
        .option("parquet.writer.version", "v2")
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return int(obs.get["rows"])


def data_files(spark, path: str) -> list[tuple[str, int]]:
    """(path, bytes) of every data file under ``path``, recursively;
    names starting with ``_`` or ``.`` (committer markers, checksums) are
    not data. Empty when ``path`` does not exist."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    root = hpath(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return []
    out = []
    it = fs.listFiles(root, True)
    while it.hasNext():
        st = it.next()
        if not st.getPath().getName().startswith(("_", ".")):
            out.append((st.getPath().toString(), st.getLen()))
    return out


def delete(spark, path: str) -> None:
    """Delete ``path`` recursively, if it exists."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    hpath(path).getFileSystem(spark._jsc.hadoopConfiguration()).delete(hpath(path), True)


def swap_in(spark, staged: str, live: str) -> None:
    """Publish directory ``staged`` as ``live`` by rename.

    The live directory (if any) is renamed aside to ``<live>__old``, the
    staged one takes its name, then the old copy is deleted — there is no
    window where ``live`` is half-written (directory rename is the atomic
    primitive). A failed promote restores the old directory; a crash
    between the two renames leaves it recoverable under ``<live>__old``.
    """
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    target, old = hpath(live), hpath(live + "__old")
    fs = target.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(old, True)
    fs.mkdirs(target.getParent())
    had_live = fs.exists(target)
    if had_live and not fs.rename(target, old):
        raise IOError(f"could not move {live} aside")
    if not fs.rename(hpath(staged), target):
        if had_live:
            fs.rename(old, target)
        raise IOError(f"could not promote {staged} to {live}")
    fs.delete(old, True)


def move_into(spark, staged: str, live: str) -> None:
    """Append the data files of table directory ``staged`` to ``live`` by
    renaming each into the same relative (partition) directory. Spark names
    part files uniquely per write, so they never collide with live ones. A
    table not yet live is published whole, by ``swap_in``."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    fs = hpath(live).getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath(live)):
        swap_in(spark, staged, live)
        return
    root = fs.makeQualified(hpath(staged)).toUri().getPath().rstrip("/")
    for path, _ in data_files(spark, staged):
        src = hpath(path)
        rel = src.toUri().getPath()[len(root):]
        dst = hpath(live.rstrip("/") + rel)
        fs.mkdirs(dst.getParent())
        if not fs.rename(src, dst):
            raise IOError(f"could not move {path} into {live}")


def write_text(spark, path: str, text: str) -> None:
    """Write (or replace) a small UTF-8 file through the Hadoop FS API."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    fs = hpath(path).getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(hpath(path), True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 16,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Write a catalog table hash-bucketed (and optionally sorted) by key.

    The co-located-join layout: two tables bucketed by the same key into
    the same bucket count join with NO exchange on either side — at 100 TB
    the difference between a join that moves nothing and one that shuffles
    both fact tables across the cluster every run. Bucket-pruning also
    turns point lookups on the bucket key into single-bucket scans.

    `sort_cols` additionally sorts within each bucket file, removing the
    sort from sort-merge joins and letting parquet row-group stats answer
    range predicates (the bucketed analogue of write_table's
    sort_within_by; reference index intent src/import_genes_exons.py:58-62).

    Spark bucketing is catalog-backed: written via saveAsTable, consumed
    via spark.table(). Choose num_buckets for the TARGET scale — e.g.
    ~2-4 GB of post-compression data per bucket; too few buckets caps join
    parallelism, too many makes small files.

    ``path`` makes the table EXTERNAL at that location — table state that
    belongs to a dataset (e.g. the streaming bloom confirm's pair table
    under its corpus directory) lives WITH the dataset instead of in the
    warehouse, and survives a fresh catalog: a later saveAsTable append
    re-registers over the existing files (managed tables instead refuse a
    pre-existing location).
    """
    writer = df.write.mode(mode).format("parquet").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)


def compact_table(
    spark,
    path: str,
    target_mb: int = 256,
    sort_within_by: list[str] | None = None,
) -> tuple[int, int]:
    """Rewrite a parquet table into ~``target_mb`` files — the small-file
    compaction every continuously-ingested table eventually needs (each
    micro-batch/append leaves its own files; thousands of KB-sized files
    turn every scan into a listing+open storm and starve the row-group
    machinery).

    File count = ceil(current bytes / target), so compaction is driven by
    MEASURED size, not a guessed partition count. With ``sort_within_by``
    the rewrite range-partitions + sorts on those columns, so compaction
    doubles as a clustering pass (parquet min/max stats become selective
    — the write_table sort_within_by intent applied retroactively).

    The rewrite goes through ``write_table``, so it keeps the database's
    zstd + Parquet v2 files, and it is partitioned by the columns the
    table's ``name=value`` directories already name (a taxon-partitioned
    table stays taxon-partitioned). Each partition value lands in as few
    tasks as the file count allows, so it gets few files.

    Swap discipline (``swap_in``): the rewrite lands in a staging dir, the
    live dir is renamed aside, staging renamed live, then the old data
    deleted — there is no window where the table is missing or
    half-written, and a crash before any rename leaves the live table
    untouched.

    Returns (files_before, files_after).

    REFUSES marker-disciplined stores (a ``_layout`` sidecar or
    ``_batches`` marker dir): a flat rewrite would silently destroy the
    partition layout their per-batch contracts depend on and drop the
    idempotency sidecars — the next batch would then see no existing
    buckets and merge from batch rows alone, permanently losing every
    untouched key. The merge sink never needs file compaction anyway
    (one file per bucket by construction); the phrase/IVF indexes have
    their own committed-batch compactors (``index_compact`` /
    ``ivf_index_compact``), and merge bucket rescale is
    ``merge_rebucket``.
    """
    import math

    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    live = jvm_path(path)
    fs = live.getFileSystem(spark._jsc.hadoopConfiguration())
    for sidecar, remedy in (
        ("_layout", "merge_rebucket (bucket rescale) — merge tables keep "
                    "one file per bucket by construction"),
        ("_batches", "the store's own compactor (index_compact / "
                     "ivf_index_compact) which folds committed batches"),
    ):
        if fs.exists(jvm_path(f"{path}/{sidecar}")):
            raise ValueError(
                f"compact_table: {path} is a marker-disciplined store "
                f"(has {sidecar}); a flat rewrite would destroy its "
                f"partition layout and idempotency sidecars. Use {remedy}."
            )
    summary = fs.getContentSummary(live)
    n_files = max(1, math.ceil(summary.getLength() / (target_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    files = df.inputFiles()
    files_before = len(files)
    # partition columns: the name=value directories between the table root
    # and a data file
    root = fs.makeQualified(live).toUri().getPath().rstrip("/")
    rel = jvm_path(files[0]).toUri().getPath()[len(root) + 1 :] if files else ""
    parts = [seg.split("=", 1)[0] for seg in rel.split("/")[:-1]]
    if sort_within_by:
        df = df.repartitionByRange(n_files, *parts, *sort_within_by)
    else:
        df = df.repartition(n_files, *parts)
    staging = path + "__staging"
    fs.delete(jvm_path(staging), True)
    write_table(df, staging, partition_by=parts, sort_within_by=sort_within_by)
    # carry the integrity manifest across the swap: its content hash is
    # order-insensitive, so a compaction (same rows, new layout) leaves it
    # VALID — dropping it would force a needless re-stamp
    manifest = jvm_path(f"{path}/_manifest.json")
    if fs.exists(manifest):
        spark._jvm.org.apache.hadoop.fs.FileUtil.copy(
            fs,
            manifest,
            fs,
            jvm_path(f"{staging}/_manifest.json"),
            False,
            spark._jsc.hadoopConfiguration(),
        )
    swap_in(spark, staging, path)
    return files_before, len(spark.read.parquet(path).inputFiles())


def batch_marker_state(spark, path: str) -> tuple[set[int], int | None]:
    """(explicit marker ids, watermark) under ``{path}/_batches``.

    Two marker kinds coexist: per-batch ``<id>`` dirs (digit-named,
    written LAST by each append), and watermark files ``w<N>`` asserting
    "every batch id ≤ N is committed" — written by ``prune_batch_markers``
    so a long-lived sink's marker set stays bounded instead of growing one
    dirname per batch forever (at 1M batches that's 1M names in every
    ``_batches`` listing). Multiple ``w`` files may transiently coexist
    (the pruner writes the new one before deleting the old — a crash
    between leaves a superset of the truth, never a loss); the effective
    watermark is their max. Digit-checks are strict ASCII (unicode digits
    pass ``\\d`` and then int() mis-parses them into a real batch id — the
    _committed_version lesson).
    """
    import re as _re

    hpath = spark._jvm.org.apache.hadoop.fs.Path
    fs = hpath(path).getFileSystem(spark._jsc.hadoopConfiguration())
    markers: set[int] = set()
    watermark: int | None = None
    batches_dir = hpath(f"{path}/_batches")
    if fs.exists(batches_dir):
        for st in fs.listStatus(batches_dir):
            nm = st.getPath().getName()
            if _re.fullmatch(r"[0-9]+", nm):
                markers.add(int(nm))
            elif _re.fullmatch(r"w[0-9]+", nm):
                w = int(nm[1:])
                if watermark is None or w > watermark:
                    watermark = w
    return markers, watermark


def batch_is_committed(spark, path: str, batch_id: int) -> bool:
    """Replay-skip test honoring both marker kinds: committed ⟺ an
    explicit ``_batches/<id>`` marker exists OR id ≤ the pruned
    watermark (a pruned id is below the watermark BY CONSTRUCTION, so
    replay semantics survive pruning)."""
    markers, watermark = batch_marker_state(spark, path)
    return int(batch_id) in markers or (
        watermark is not None and int(batch_id) <= watermark
    )


def committed_ib_predicate(spark, path: str, base_ib: int = 0, col: str = "__ib"):
    """Column predicate selecting rows written by committed batches only —
    the read-side half of the marker-append contract (data first, marker
    LAST): a batch that crashed between its data write and its marker has
    rows on disk but no marker, and every reader must treat those rows as
    invisible until the batch is redelivered — otherwise a crashed-then-
    abandoned stream leaves phantom postings/codes inflating every query
    that touches the bucket (ADVICE r10). Watermark-aware: ids ≤ the
    pruned watermark are committed without an explicit marker, so the
    predicate stays bounded (one range test + the unpruned marker list)
    no matter how many batches ever ran.
    """
    from pyspark.sql import functions as F

    markers, watermark = batch_marker_state(spark, path)
    pred = F.col(col) == int(base_ib)
    if watermark is not None:
        pred = pred | (
            (F.col(col) >= 0) & (F.col(col) <= int(watermark))
        )
        markers = {m for m in markers if m > watermark}
    if markers:
        pred = pred | F.col(col).isin(sorted(markers))
    return pred


def prune_batch_markers(
    spark, path: str, first_batch_id: int = 0, trust_first_batch_id: bool = False
) -> int | None:
    """Advance the committed watermark and delete the per-batch markers it
    subsumes — the ``_prune_versions`` discipline applied to the marker-
    append sinks (merge / phrase index / IVF index / scd2 / rollup /
    versioned-state folds), whose ``_batches`` sets otherwise grow one
    dirname per batch forever (VERDICT r10 missing #2).

    The watermark may only cover a CONTIGUOUS committed prefix: a gap
    means some batch in range never committed (crashed before its marker),
    and covering it would make its eventual redelivery a skip — silently
    dropping the batch. Streaming batch ids are sequential, so gaps only
    arise from genuine crash windows; the watermark stops right before the
    first one. Durability order: the new ``w<N>`` file lands BEFORE any
    marker is deleted (a crash between leaves both — a superset of the
    truth); EVERY stale ``w<M>`` below the effective watermark is then
    removed — on every prune call, not only when the watermark advanced
    (ADVICE r11/r12) — so an orphan left by an earlier crash between
    write-new and delete-old cannot accumulate forever.
    Leftover ``_pre``/``_staging`` dirs for ids ≤ N are
    reaped with the markers. Run it like compaction — between batches,
    from one maintenance process. Returns the effective watermark (None if
    nothing is committed yet).

    ``first_batch_id`` asserts where the stream's id sequence genuinely
    starts (checkpointed streams need not start at 0). It is a DANGEROUS
    assertion: a value above the true first id walks the watermark over a
    crashed, never-committed batch, silently dropping its redelivery — so
    when no prior watermark exists and the claim is not corroborated by a
    CONTIGUOUS surviving-marker run ending at ``first_batch_id - 1``
    (contiguity certified only down to the lowest surviving marker — a
    gap in that range means a batch below the claim crashed or lost its
    marker), the prune REFUSES unless ``trust_first_batch_id=True``
    explicitly acknowledges the assumption (ADVICE r11/r12: one mistyped
    flag must not cause permanent data loss).
    """
    hpath = spark._jvm.org.apache.hadoop.fs.Path
    fs = hpath(path).getFileSystem(spark._jsc.hadoopConfiguration())
    markers, watermark = batch_marker_state(spark, path)
    if (
        watermark is None
        and int(first_batch_id) > 0
        and not trust_first_batch_id
    ):
        # Marker corroboration (ADVICE r11/r12): a surviving marker run
        # that is CONTIGUOUS from the lowest on-disk marker up through
        # first_batch_id - 1 is evidence the claim covers only committed
        # batches. A gap in that range is evidence a batch below the claim
        # existed and never committed (or its marker was externally
        # deleted) — advancing the watermark over it would silently skip
        # its redelivery. Note the limit of this check: it certifies
        # contiguity only down to the LOWEST surviving marker; batches
        # below that left no trace either way, exactly as before any
        # markers were pruned.
        below = sorted(m for m in markers if m < int(first_batch_id))
        contiguous = (
            bool(below)
            and below[-1] == int(first_batch_id) - 1
            and below == list(range(below[0], int(first_batch_id)))
        )
        if not contiguous:
            raise ValueError(
                f"prune_batch_markers: first_batch_id={first_batch_id} "
                f"claims batches before it never existed, but {path} has "
                "no prior watermark and the surviving markers below the "
                f"claim ({below}) do not form a contiguous run ending at "
                f"{int(first_batch_id) - 1} — if the claim is wrong, a "
                "crashed batch's redelivery would be silently skipped "
                "(permanent data loss). Pass trust_first_batch_id=True "
                "only if the stream's id sequence genuinely starts there."
            )
    w0 = watermark if watermark is not None else int(first_batch_id) - 1
    w = w0
    while w + 1 in markers:
        w += 1
    if w > w0:
        fs.mkdirs(hpath(f"{path}/_batches/w{w}"))  # durable FIRST
        watermark = w
    # reap EVERY stale watermark file below the effective one — run even
    # when nothing advanced this call (ADVICE r12: gating the reap on
    # advancement left crash-orphaned w<M> files in _batches indefinitely
    # whenever a prune found no new contiguous markers)
    if watermark is not None:
        import re as _re

        for st in fs.listStatus(hpath(f"{path}/_batches")):
            nm = st.getPath().getName()
            if _re.fullmatch(r"w[0-9]+", nm) and int(nm[1:]) < watermark:
                fs.delete(st.getPath(), True)
    # the HIGHEST marker always survives: the versioned-state folds
    # (_committed_version) locate their live __v from the latest marker,
    # and one extra dirname costs nothing for the other sinks
    keep_max = max(markers) if markers else None
    for m in sorted(markers):
        if m <= w and m != keep_max:
            fs.delete(hpath(f"{path}/_batches/{m}"), True)
    # reap pre-state snapshots and staged batch dirs leaked below the
    # watermark (all their batches are fully committed — dead weight)
    import re as _re

    for side in ("_pre", "_staging"):
        side_dir = hpath(f"{path}/{side}")
        if watermark is not None and fs.exists(side_dir):
            for st in fs.listStatus(side_dir):
                nm = st.getPath().getName()
                if _re.fullmatch(r"[0-9]+", nm) and int(nm) <= watermark:
                    fs.delete(st.getPath(), True)
    return watermark


def fold_ib_partitions(
    spark,
    path: str,
    partition_col: str,
    finalize_staging=None,
    base_ib: int = 0,
) -> tuple[int, int]:
    """Compact a marker-append index (``<partition_col>=*/__ib=<batch>``
    layout with ``_batches/<id>`` commit markers) by folding all COMMITTED
    batches into the ``__ib=<base_ib>`` base (0 for the phrase index, -1
    for the IVF index — each keeps its original base-build id) — one file per first-level partition.

    Shared by the positional phrase index (``operators/index.index_compact``)
    and the IVF-PQ vector index (``operators/similarity.ivf_index_compact``);
    both grow one file per (partition, batch), so at streaming cadence the
    listing/open cost eventually dominates reads.

    Semantics pinned by both indexes' lifecycle tests:
    - Only batches whose ``_batches`` marker exists fold. A batch that
      crashed between data and marker is DROPPED — its at-least-once
      redelivery deterministically rewrites it; folding first would turn
      that replay into a duplication.
    - Markers are COPIED into staging (not moved): a failed promote
      restores the live index complete with markers; after a successful
      swap, committed-batch redeliveries remain no-ops.
    - ``finalize_staging(staged_path)`` hook rebuilds any sidecar (e.g.
      the phrase index's ``_stats`` dictionary) from the folded data
      before the swap, so sidecar and data can never disagree.
    - Staged-rename swap (``swap_in``, as ``compact_table``): a crash
      leaves the old index live or recoverable under ``<path>__old``.
    """
    from pyspark.sql import functions as F

    hpath = spark._jvm.org.apache.hadoop.fs.Path
    live = hpath(path)
    fs = live.getFileSystem(spark._jsc.hadoopConfiguration())
    batches_dir = hpath(f"{path}/_batches")
    cur = spark.read.parquet(path)
    files_before = len(cur.inputFiles())
    folded = cur.filter(
        committed_ib_predicate(spark, path, base_ib)
    ).drop("__ib")
    fs.delete(hpath(path + "__staging"), True)
    (
        folded.withColumn("__ib", F.lit(base_ib).cast("long"))
        .repartition(partition_col)
        .write.mode("overwrite")
        .partitionBy(partition_col, "__ib")
        .parquet(path + "__staging")
    )
    if finalize_staging is not None:
        finalize_staging(path + "__staging")
    if fs.exists(batches_dir):
        spark._jvm.org.apache.hadoop.fs.FileUtil.copy(
            fs,
            batches_dir,
            fs,
            hpath(path + "__staging/_batches"),
            False,
            spark._jsc.hadoopConfiguration(),
        )
    swap_in(spark, path + "__staging", path)
    return files_before, len(spark.read.parquet(path).inputFiles())


def _typed_row_hash(cols):
    """Order-insensitive-sum row hash term: xxhash64 folded over the typed
    columns, each preceded by its ordinal literal (see write_with_manifest
    docstring for why the interleave matters)."""
    from pyspark.sql import functions as F

    args = []
    for i, c in enumerate(sorted(cols)):
        args.append(F.lit(i))
        args.append(F.col(c))
    return F.xxhash64(*args)


def write_with_manifest(df, path: str, mode: str = "overwrite") -> dict:
    """Write parquet plus a ``_manifest.json`` integrity record: row count,
    sorted column list, and an ORDER-INSENSITIVE content hash (sum, with
    64-bit wraparound, of a per-row typed xxhash64) — the artifact that
    lets a downstream consumer prove "this is the exact table the pipeline
    produced", across re-partitions, shuffles, and copies (hashing is
    row-local + commutative, so layout never matters).

    Row hash = ``xxhash64`` folded over the TYPED columns interleaved with
    their ordinal literals (ADVICE r10: the previous canonical-string form
    ``concat_ws('\x1f', coalesce(cast string, '\x00'))`` let a value
    containing the separator, a literal ``'\x00'`` string, or a
    NULL↔sentinel swap all collide). Typed hashing has no separator or
    sentinel to forge; the ordinal interleave disambiguates NULL-position
    swaps, which the seed-chaining fold would otherwise treat as
    equivalent (NULL folds to a no-op). Collision model: xxhash64 is not
    cryptographic and the 64-bit commutative SUM admits compensating
    multi-row changes — this is a drift/corruption tripwire, not a
    tamper-proof seal.

    One extra aggregation pass at write time; underscore-named, so the
    manifest is invisible to normal parquet reads. Returns the manifest.
    """
    import json as _json

    from pyspark.sql import functions as F

    cols = sorted(df.columns)
    df.write.mode(mode).parquet(path)
    back = df.sparkSession.read.parquet(path)
    # sum in DECIMAL(38,0): a raw long sum overflows (and ANSI mode makes
    # that a hard ArithmeticException, not a wrap) at ~2^63/2^63-avg rows
    agg = back.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_typed_row_hash(cols).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    manifest = {
        "rows": int(agg["n"]),
        "columns": cols,
        "content_hash": int((int(agg["h"] or 0)) % (1 << 64)),
        "hash_version": 2,
    }
    write_text(df.sparkSession, f"{path}/_manifest.json", _json.dumps(manifest))
    return manifest


def verify_manifest(spark, path: str) -> dict:
    """Recompute the manifest from the live table and compare; raises
    ValueError naming the drifted field on any mismatch (rows silently
    lost to a partial copy, a column dropped, values altered). Returns
    the verified manifest on success."""
    import json as _json

    from pyspark.sql import functions as F

    hpath = spark._jvm.org.apache.hadoop.fs.Path
    fs = hpath(path).getFileSystem(spark._jsc.hadoopConfiguration())
    mp = hpath(f"{path}/_manifest.json")
    if not fs.exists(mp):
        raise FileNotFoundError(f"no _manifest.json under {path}")
    stream = fs.open(mp)
    try:
        raw = bytes(stream.readAllBytes())
    finally:
        stream.close()
    manifest = _json.loads(raw.decode("utf-8"))
    df = spark.read.parquet(path)
    cols = sorted(df.columns)
    if cols != manifest["columns"]:
        raise ValueError(
            f"manifest mismatch at {path}: columns {cols} != recorded "
            f"{manifest['columns']}"
        )
    if manifest.get("hash_version") != 2:
        raise ValueError(
            f"manifest at {path} uses hash_version "
            f"{manifest.get('hash_version')!r}; this build verifies "
            "version 2 (typed xxhash64) — rewrite the manifest with "
            "write_with_manifest"
        )
    agg = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_typed_row_hash(cols).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    if int(agg["n"]) != manifest["rows"]:
        raise ValueError(
            f"manifest mismatch at {path}: rows {int(agg['n'])} != recorded "
            f"{manifest['rows']}"
        )
    got = int(int(agg["h"] or 0) % (1 << 64))
    if got != manifest["content_hash"]:
        raise ValueError(
            f"manifest mismatch at {path}: content hash {got} != recorded "
            f"{manifest['content_hash']} (values altered with count intact)"
        )
    return manifest
