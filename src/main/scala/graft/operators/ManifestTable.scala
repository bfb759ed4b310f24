package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{abs => fabs, broadcast, col, explode,
  input_file_name, lit, max, min, sequence, sum => fsum, when}
import org.apache.spark.sql.types.StructType

/** Manifest-committed parquet table — the snapshot-commit layer that
  * closes [[Layout.compact]]'s one honesty gap: its directory swap is
  * two renames, so a reader mid-swap can see a missing dir and a crash
  * between them needs a manual restore. Here DATA FILES ARE IMMUTABLE
  * and visibility is a separate, single-rename commit:
  *
  *  - every write (create / append / compact) puts its parquet files in
  *    a fresh `c<uuid>/` subdir of the table path — invisible until
  *    referenced;
  *  - a manifest file `_manifest.<version>` lists the relative paths of
  *    ALL live data files for that snapshot, one per line;
  *  - commit writes the full manifest to a staged name and publishes it
  *    with ONE rename to `_manifest.<version>` — readers resolve the
  *    highest version, so they see the old file list or the new one,
  *    never a mix and never a missing table;
  *  - a crash at ANY point leaves only invisible garbage (data files and
  *    staged manifests no manifest references) — the next write and all
  *    readers ignore it, [[vacuum]] deletes it. No restore step exists
  *    because no step ever unpublishes the current snapshot.
  *
  * This is the minimal member of the manifest-table family (Iceberg /
  * Delta / Hive ACID are the production members — snapshot isolation
  * plus schema evolution, stats and OCC on top of the same idea; the
  * reference's analog is its single-transaction bulk load,
  * `database_service.py:292-294`).
  *
  * Atomicity contract: publish is `FileSystem.rename` of a fully-written
  * file within one directory — atomic on HDFS and POSIX. HDFS rename
  * also refuses an existing target, making concurrent commits safe
  * there. Local paths depend on the classpath: with Spark's Hive jars,
  * `file:` resolves to hive-exec's `ProxyLocalFileSystem`, which
  * refuses an existing target FILE (ManifestTableSpec pins it) but by
  * a check before rename(2), which itself replaces — two writers can
  * both pass the check; Hadoop's own `LocalFileSystem` replaces the
  * target outright. So [[commit]] adds a per-table JVM mutex that
  * CLOSES the two-writer race for every writer in one process (the
  * normal single-driver topology — and all of `local[*]`); losers
  * surface as [[ConcurrentCommitException]] for [[retryOnConflict]],
  * and so does a commit whose rename was refused because another
  * process published the same manifest first. Only separate PROCESSES
  * racing on a local FS remain narrowed-not-closed (exact on HDFS) —
  * single-writer maintenance windows are exact everywhere, and readers
  * are always safe: a reader that catches a non-atomic local replace mid-read
  * detects it by the header's file count (the torn-manifest self-check
  * in [[snapshot]]) and fails loudly. Scale shape: a
  * manifest is one line per file — a 100 TB table at healthy file
  * sizes is ~10⁵ lines, a driver-side read; the data plane never moves
  * through the manifest.
  *
  * Retention doubles as TIME TRAVEL: superseded manifests stay on disk
  * until [[vacuum]], and `read(path, version = Some(v))` resolves
  * exactly snapshot v — the "which snapshot trained model X"
  * reproducibility read. Deletes come in both real-world shapes:
  * [[deleteRange]] (contiguous) and [[deleteIds]] (scattered id sets).
  * They, [[upsert]], the rewriting [[merge]] corners and
  * [[replaceRange]] are one copy-on-write step (`rewrite`) over one of
  * two touch kinds: a key range, or a key set whose survivors are a
  * left anti join against the set's keys.
  */
object ManifestTable {

  /** A commit lost the optimistic-concurrency race: the table moved
    * past the snapshot the writer planned against (or the target
    * manifest already exists). Extends IllegalArgumentException so
    * callers treating conflicts as plain failures keep working; typed
    * so [[retryOnConflict]] can retry EXACTLY this — a data error must
    * never be retried into place. Nothing is partially committed when
    * this is thrown (the staged manifest is crash debris, vacuumed). */
  final class ConcurrentCommitException(msg: String)
    extends IllegalArgumentException(msg)

  /** The sanctioned multi-writer append pattern: re-run `body` (which
    * must RE-READ the current snapshot inside itself — every public
    * write here does) when it loses the commit race, up to
    * `maxAttempts`. Rebasing by re-run is safe for appends and other
    * self-contained writes because each attempt replans against the
    * NEW snapshot; blind manifest-list rebase (what commit refuses)
    * would not be. Maintenance (compact/vacuum) should stay
    * single-writer rather than retry. */
  def retryOnConflict[T](maxAttempts: Int = 3)(body: => T): T = {
    require(maxAttempts >= 1, "maxAttempts must be >= 1")
    var attempt = 1
    while (true) {
      try return body catch {
        case _: ConcurrentCommitException if attempt < maxAttempts =>
          attempt += 1
      }
    }
    sys.error("unreachable")
  }

  private val ManifestName = """_manifest\.(\d+)""".r

  /** A manifest line: the file's relative path plus its per-column
    * (min, max) stats when the writer declared `statsCols`. Serialized
    * as `rel/path|col:lo:hi|col2:lo:hi` — stats values are LONGS (the
    * repo-wide fixed-point discipline: ids, epoch days, cents; cast or
    * pre-scale non-integer columns), so parsing is trivial and the
    * envelope check is exact integer arithmetic. A line without stats
    * is just the path — readers treat such files as "always
    * intersects" (conservative), so stats-less and stats-carrying
    * files mix freely in one table. */
  final case class ManifestEntry(path: String,
      stats: Map[String, (Long, Long)])

  private def parseEntry(line: String): ManifestEntry = {
    val parts = line.split('|')
    val stats = parts.drop(1).flatMap { s =>
      s.split(':') match {
        case Array(c, lo, hi) => Some(c -> (lo.toLong, hi.toLong))
        case _                => None
      }
    }.toMap
    ManifestEntry(parts.head, stats)
  }

  private def fsOf(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Resolve a manifest entry's file against the table base. Entries
    * this table's own writes commit are RELATIVE; a [[shallowClone]]'s
    * first manifest holds ABSOLUTE paths into the source table — those
    * resolve as themselves. Vacuum stays safe by construction either
    * way: it only ever deletes files physically under ITS OWN table
    * directory, which absolute foreign entries never are. */
  private def resolveFile(base: Path, file: String): Path = {
    val p = new Path(file)
    if (p.isAbsolute) p else new Path(base, file)
  }

  /** One retained manifest, read and parsed once: its serialized entry
    * lines (what a commit carries forward) and those lines parsed, the
    * idempotence tag it committed under, the op that wrote it, its
    * CHECK constraints and the schema DDL (recorded since r15 so an
    * EMPTY snapshot — a delete that removed every row — still reads as
    * a typed empty frame instead of bricking the table). */
  private final case class Snapshot(version: Long, lines: Seq[String],
      txn: Option[String], schemaDdl: Option[String], op: Option[String],
      constraints: Seq[(String, String)]) {
    val entries: Seq[ManifestEntry] = lines.map(parseEntry)
    def files: Seq[String] = entries.map(_.path)
    /** Metadata row count: the sum of the files' `__rows` stats, None
      * when the snapshot is empty or any file predates the stat. */
    val rows: Option[Long] = {
      val counts = entries.map(_.stats.get(RowsStat).map(_._1))
      if (counts.nonEmpty && counts.forall(_.isDefined))
        Some(counts.flatten.sum)
      else None
    }
  }

  private val HeaderCount = """# graft manifest v\d+, (\d+) files""".r
  private val HeaderField = """# (txn|schema|op|constraint) (.*)""".r

  /** THE snapshot resolver every read and write goes through: snapshot
    * `version`, or the newest when None. Fails loudly when the table
    * does not exist, and when the version was vacuumed or never
    * committed (the reproducibility contract: a caller asking for a
    * specific historical snapshot must never silently get another).
    *
    * The parse keeps the torn-manifest self-check: the header records
    * the file count at write, so a reader that opens a manifest a
    * non-atomic local-FS writer replaced mid-read (the local FS checks
    * for the target before rename(2), which replaces — the documented
    * local-FS corner) detects the truncation by count and fails loudly
    * instead of silently serving a partial snapshot. Headerless
    * manifests (hand-written/foreign) skip the check — there is
    * nothing to validate against. */
  private def snapshot(spark: SparkSession, path: String,
      version: Option[Long]): Snapshot = {
    val v = version.orElse(versions(spark, path).lastOption)
    require(v.isDefined, s"manifest table $path does not exist")
    val (fs, p) = fsOf(spark, path)
    val m = new Path(p, s"_manifest.${v.get}")
    val text =
      try Some(readText(fs, m))
      catch { case _: java.io.FileNotFoundException => None }
    require(text.isDefined,
      s"manifest table $path: version ${v.get} is not retained " +
        s"(vacuumed or never committed); retained: " +
        s"${versions(spark, path).mkString(", ")}")
    val all = text.get.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
    val (headers, lines) = all.partition(_.startsWith("#"))
    all.headOption match {
      case Some(HeaderCount(n)) =>
        require(lines.size == n.toInt,
          s"manifest $m is torn/truncated: header declares $n files, " +
            s"found ${lines.size} — a non-atomic writer replaced it " +
            "mid-read; retry the read or restore the manifest")
      case _ => // no header: nothing to validate against
    }
    val fields = headers.collect { case HeaderField(k, x) => (k, x.trim) }
      .groupMap(_._1)(_._2)
    def field(k: String): Option[String] = fields.get(k).map(_.head)
    val constraints = fields.getOrElse("constraint", Nil).map { body =>
      val cut = body.indexOf(' ')
      (body.substring(0, cut), body.substring(cut + 1).trim)
    }
    Snapshot(v.get, lines, field("txn"), field("schema"), field("op"),
      constraints)
  }

  /** The newest snapshot, None when no manifest exists — the one form
    * for callers that accept a missing table. */
  private def latest(spark: SparkSession, path: String): Option[Snapshot] =
    versions(spark, path).lastOption.map(v => snapshot(spark, path, Some(v)))

  /** Retained manifest versions, ascending; Nil when the table does
    * not exist. The lower end moves up as [[vacuum]] reclaims. */
  def versions(spark: SparkSession, path: String): Seq[Long] = {
    val (fs, p) = fsOf(spark, path)
    if (!fs.exists(p)) return Nil
    fs.listStatus(p).iterator.flatMap { st =>
      st.getPath.getName match {
        case ManifestName(v) => Some(v.toLong)
        case _               => None
      }
    }.toSeq.sorted
  }

  /** A small UTF-8 file's whole text: a manifest, a tag, a consumer
    * state. */
  private def readText(fs: FileSystem, f: Path): String = {
    val in = fs.open(f)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** The parquet files behind manifest paths `rels`, resolved against
    * the table base — every data-file read of this table goes here. */
  private def readFiles(spark: SparkSession, path: String,
      rels: Seq[String], mergeSchema: Boolean): DataFrame = {
    val base = new Path(path)
    spark.read.option("mergeSchema", mergeSchema.toString)
      .parquet(rels.map(f => resolveFile(base, f).toString): _*)
  }

  /** (version, relative data-file paths) of the current snapshot;
    * (0, Nil) when no manifest exists. */
  def currentManifest(spark: SparkSession, path: String): (Long, Seq[String]) =
    latest(spark, path).fold((0L, Seq.empty[String]))(s => (s.version, s.files))

  /** (version, parsed entries with per-file stats) of the current
    * snapshot — the input to manifest-side pruning ([[readRange]]). */
  def currentEntries(spark: SparkSession,
      path: String): (Long, Seq[ManifestEntry]) =
    latest(spark, path)
      .fold((0L, Seq.empty[ManifestEntry]))(s => (s.version, s.entries))

  /** Metadata-only row count: every write that records stats also
    * records the file's row count (`__rows`), so counting a
    * stats-carrying table is a driver-side sum over the manifest — no
    * file opens at all (the `SELECT count(*)` a 100 TB table answers
    * from metadata). Falls back to a data count when any file predates
    * the stat or the table never carried stats. */
  def countRows(spark: SparkSession, path: String,
      version: Option[Long] = None): Long = {
    val snap = snapshot(spark, path, version)
    snap.rows.getOrElse(scan(spark, path, snap, mergeSchema = false).count())
  }

  /** Reserved manifest-stat key carrying the file's row count. */
  private val RowsStat = "__rows"

  /** The table as a DataFrame. Resolves ONLY manifest-listed files —
    * orphan parquet in the directory (crashed writers, not-yet-
    * committed appends, pre-vacuum compaction leftovers) is invisible.
    *
    * `version`: time-travel read. `None` (default) resolves the newest
    * manifest; `Some(v)` reads EXACTLY snapshot v — superseded
    * manifests and their data files stay on disk until [[vacuum]]
    * (`keepVersions`, default 2), so "which exact snapshot trained
    * model X" is answerable as long as retention covers it. A vacuumed
    * or never-committed version fails loudly, never silently serves a
    * neighbor. This is the read half of the reproducibility contract
    * (the reference's analog is the count-what-was-there-first backfill
    * guard, `database_service.py:443-450`).
    *
    * An EMPTY snapshot (a delete removed every row) reads as an empty
    * frame with the schema the commit recorded in the manifest header —
    * a legal API sequence must not brick the table for readers.
    *
    * Schema: by default Spark takes it from a sample of footers — cheap,
    * correct while every commit writes the same columns. After a
    * schema-evolving append (new column on new files), pass
    * `mergeSchema = true` to union all footers (src04's parquet
    * contract: old files read the new column as NULL); it costs a
    * footer read per file at planning, so reserve it for evolved
    * tables — or compact once and the schema is uniform again. */
  def read(spark: SparkSession, path: String,
      mergeSchema: Boolean = false,
      version: Option[Long] = None): DataFrame =
    scan(spark, path, snapshot(spark, path, version), mergeSchema)

  /** Every file of `snap` as one DataFrame ([[read]]'s body). */
  private def scan(spark: SparkSession, path: String, snap: Snapshot,
      mergeSchema: Boolean): DataFrame =
    if (snap.lines.nonEmpty) readFiles(spark, path, snap.files, mergeSchema)
    else {
      require(snap.schemaDdl.isDefined,
        s"manifest table $path: v${snap.version} lists no files and " +
          "records no schema (pre-r15 manifest) — cannot type an empty read")
      spark.createDataFrame(java.util.Collections.emptyList[Row](),
        StructType.fromDDL(snap.schemaDdl.get))
    }

  /** No rows, typed as [[read]] types `snap` — what a read that selects
    * no file returns. The optimizer folds the zero limit into an empty
    * relation, so no data file is scanned. */
  private def noRows(spark: SparkSession, path: String,
      snap: Snapshot): DataFrame =
    scan(spark, path, snap, mergeSchema = false).limit(0)

  /** Create the table: write `df` as the first snapshot. Refuses if a
    * manifest already exists (use [[append]]/[[compact]] to evolve).
    * `statsCols` (long-castable) get per-file (min, max) recorded in
    * the manifest — see [[readRange]]. */
  def create(spark: SparkSession, path: String, df: DataFrame,
      files: Int, sortCols: Seq[String] = Nil,
      statsCols: Seq[String] = Nil, txn: Option[String] = None,
      zOrder: Boolean = false): Long = {
    val prior = latest(spark, path)
    require(prior.isEmpty,
      s"manifest table $path already exists (v${prior.get.version})")
    val added = writeDataFiles(spark, path, df, files, sortCols, statsCols,
      zOrder)
    commit(spark, path, added, expectedCurrent = 0L, txn = txn,
      schemaDdl = Some(df.schema.toDDL), op = "create")
  }

  /** Append `df` as new immutable files; the new snapshot lists the old
    * files plus the new ones. Running readers keep the old snapshot.
    *
    * `txn` is the idempotence tag for replayed writers (a Structured
    * Streaming batchId, an orchestrator run id): when it equals the tag
    * the CURRENT manifest committed under, the append is a NO-OP
    * returning the current version — the caller already committed and
    * crashed before recording it. Checking only the current manifest is
    * sufficient for monotonic writers (streaming replays only the
    * latest uncommitted batch — the transactional-sink argument); it is
    * NOT a general dedup ledger. */
  def append(spark: SparkSession, path: String, df: DataFrame,
      files: Int, statsCols: Seq[String] = Nil,
      txn: Option[String] = None, sortCols: Seq[String] = Nil): Long = {
    val snap = snapshot(spark, path, None)
    if (txn.isDefined && snap.txn == txn) return snap.version
    enforceConstraints(snap.constraints, path, df, "append")
    // sortCols: range-cluster the appended files on the table's key
    // (Iceberg's write.distribution-mode=range) — appends that each
    // span the whole key domain defeat every later envelope-pruned
    // read/CoW of the table, however well created files were clustered
    val added = writeDataFiles(spark, path, df, files, sortCols, statsCols)
    // an untagged write still carries a prior streaming tag forward —
    // same argument as maintenance (see lastTxn): erasing it would let
    // a crash-replay readmit an already-committed batch
    commit(spark, path, snap.lines ++ added, expectedCurrent = snap.version,
      txn = txn.orElse(snap.txn),
      schemaDdl = Some(df.schema.toDDL), op = "append")
  }

  /** The idempotence tag the current manifest committed under, if any.
    * Maintenance commits ([[compact]], [[deleteRange]], [[deleteIds]])
    * CARRY the tag FORWARD — a replayed streaming batch must still
    * no-op after a compaction interleaved with its replay window
    * (otherwise crash-after-commit + compact + replay = duplicate
    * rows; the exactly-once contract of
    * [[graft.streaming.StreamingEtl.writeBatchManifest]]). */
  def lastTxn(spark: SparkSession, path: String): Option[String] =
    latest(spark, path).flatMap(_.txn)

  /** Rewrite the current snapshot as `files` larger files (range-
    * clustered on `sortCols` when given) and commit the replacement
    * list with one rename. The old files stay on disk — still served to
    * any reader that resolved the previous manifest — until [[vacuum]].
    * This is [[Layout.compact]] without the maintenance window. */
  def compact(spark: SparkSession, path: String, files: Int,
      sortCols: Seq[String] = Nil, statsCols: Seq[String] = Nil,
      zOrder: Boolean = false): Long = {
    val snap = snapshot(spark, path, None)
    // mergeSchema ALWAYS on the rewrite read: a schema-evolved table
    // whose footer sample missed the new column would otherwise be
    // rewritten WITHOUT it — silent data loss. Compaction reads every
    // file anyway; the per-footer planning cost is already paid.
    val src = scan(spark, path, snap, mergeSchema = true)
    val rewritten = writeDataFiles(spark, path, src, files,
      sortCols, inheritStats(statsCols, snap), zOrder)
    // carry the txn tag forward (see lastTxn): maintenance must not
    // erase a streaming writer's idempotence marker
    commit(spark, path, rewritten, expectedCurrent = snap.version,
      txn = snap.txn, schemaDdl = Some(src.schema.toDDL), op = "compact")
  }

  /** Stats columns are a TABLE property: maintenance rewrites
    * (compact, deleteRange) keep recording whatever the current
    * manifest records unless the caller overrides — a routine compact
    * must not silently degrade every future pruned read to
    * conservative full-list scans. */
  private def inheritStats(statsCols: Seq[String],
      snap: Snapshot): Seq[String] =
    if (statsCols.nonEmpty) statsCols
    else snap.entries.flatMap(_.stats.keys)
      .filterNot(_ == RowsStat).distinct.sorted

  /** INCREMENTAL compaction: fold only the files smaller than
    * `minBytes` into `files` consolidated ones, leaving every
    * well-sized file's bytes and manifest line untouched — the only
    * compaction shape that works at 100 TB, where a full [[compact]]
    * rewrite of the table is off the table and the thing that actually
    * fragments is the small-file TAIL a streaming sink or frequent
    * small appends leave behind. The size check is one driver-side
    * `getFileStatus` per manifest line (metadata, no file opens);
    * cost is proportional to the small tail, never the table. With
    * fewer than two small files there is nothing to fold — returns
    * the current version, commits nothing (so a maintenance loop can
    * call it unconditionally). One snapshot commit; txn carried like
    * all maintenance ([[lastTxn]]); the pre-compaction snapshot stays
    * readable until [[vacuum]]. */
  def compactSmall(spark: SparkSession, path: String, minBytes: Long,
      files: Int = 1, sortCols: Seq[String] = Nil,
      statsCols: Seq[String] = Nil): Long = {
    require(minBytes > 0, "compactSmall: minBytes must be positive")
    val snap = snapshot(spark, path, None)
    val (fs, _) = fsOf(spark, path)
    val base = new Path(path)
    val (small, big) = snap.lines.zip(snap.entries).partition {
      case (_, e) => fs.getFileStatus(resolveFile(base, e.path))
        .getLen < minBytes
    }
    if (small.size <= 1) return snap.version // already optimal: no commit
    val df = readFiles(spark, path, small.map(_._2.path), mergeSchema = true)
    val rewritten = writeDataFiles(spark, path, df, files, sortCols,
      inheritStats(statsCols, snap))
    commit(spark, path, big.map(_._1) ++ rewritten,
      expectedCurrent = snap.version, txn = snap.txn,
      schemaDdl = Some(df.schema.toDDL), op = "compact-small")
  }

  /** Two-predicate box read through manifest-side pruning: keep only
    * the files whose stats envelopes intersect BOTH ranges (a missing
    * stat keeps the file — conservative per axis) and apply the exact
    * predicates to just those. On a [[create]]d `zOrder = true` layout
    * every file is narrow in both columns, so either predicate alone
    * prunes most files and their conjunction prunes multiplicatively —
    * the manifest-resident version of [[ZOrder.boxFiles]] (no stats
    * scan at query time: the envelopes were recorded at write). */
  def readBox(spark: SparkSession, path: String,
      c1: String, lo1: Long, hi1: Long,
      c2: String, lo2: Long, hi2: Long,
      version: Option[Long] = None): DataFrame = {
    require(lo1 <= hi1 && lo2 <= hi2, "readBox: lo > hi")
    readPruned(spark, path, version,
      Seq(c1 -> KeyRange(lo1, hi1), c2 -> KeyRange(lo2, hi2)))
  }

  /** THE pruned read behind [[readRange]] and [[readBox]]: keep the
    * files of the snapshot whose envelopes intersect every (column,
    * range) pair (a missing stat keeps the file — conservative per
    * axis) and apply the exact predicates to just those; no kept file
    * reads as [[noRows]]. */
  private def readPruned(spark: SparkSession, path: String,
      version: Option[Long], ranges: Seq[(String, KeyRange)]): DataFrame = {
    val snap = snapshot(spark, path, version)
    val keep = snap.entries.filter(e =>
      ranges.forall { case (c, r) => r.touches(e, c) })
    if (keep.isEmpty) noRows(spark, path, snap)
    else readFiles(spark, path, keep.map(_.path), mergeSchema = false)
      .filter(ranges.map { case (c, r) =>
        col(c).cast("long").between(r.lo, r.hi) }.reduce(_ && _))
  }

  /** What a copy-on-write rewrite removes, on a long-cast key column:
    * `hits` decides from a file's recorded [min, max] envelope whether
    * the file may hold a removed key (a file without an envelope always
    * may — conservative), and `survivors` keeps the rows of the touched
    * files that are not removed. NULL and cast-failed keys are never
    * removed: NULL is in no range and equi-joins nothing. */
  private sealed trait Touch {
    def hits(flo: Long, fhi: Long): Boolean
    def survivors(cand: DataFrame, key: Column): DataFrame
    final def touches(e: ManifestEntry, c: String): Boolean =
      e.stats.get(c).forall { case (flo, fhi) => hits(flo, fhi) }
  }

  /** Every key in [lo, hi]: [[deleteRange]], [[replaceRange]] and the
    * pruned reads. */
  private final case class KeyRange(lo: Long, hi: Long) extends Touch {
    def hits(flo: Long, fhi: Long): Boolean = fhi >= lo && flo <= hi
    // `!between` alone is NULL on a NULL key, which a filter drops: a
    // bare negation would delete every NULL-key row it rewrites
    // (schema-evolved tables read old files' new column as NULL)
    def survivors(cand: DataFrame, key: Column): DataFrame =
      cand.filter(key.isNull || !key.between(lo, hi))
  }

  /** A key set: [[deleteIds]], [[upsert]] and [[merge]]. With the
    * distinct keys collected (`sorted`), a file is touched only when one
    * of them falls inside its envelope (binary search, driver-side,
    * O(files · log keys)); without them the set's global `bounds` prune.
    * Survivors are a left anti join against `keys`, a one-column `__k`
    * frame of the distinct non-NULL keys: a broadcast local frame of the
    * collected keys, or the source's own keys past the collect cap. The
    * join is the only form at every size — a literal `IN` filter was
    * measured no faster at 1,000 ids and 1.8x slower at 10,000
    * (`deleteIds` on a 120k-row, 18-file table, `local[3]`). */
  private final class KeySet(bounds: KeyRange, sorted: Option[Array[Long]],
      keys: DataFrame) extends Touch {
    def hits(flo: Long, fhi: Long): Boolean = sorted match {
      case Some(ks) =>
        var i = java.util.Arrays.binarySearch(ks, flo)
        if (i < 0) i = -i - 1
        i < ks.length && ks(i) <= fhi
      case None => bounds.hits(flo, fhi)
    }
    def survivors(cand: DataFrame, key: Column): DataFrame =
      cand.join(keys, key === col("__k"), "left_anti")
  }

  private object KeySet {
    /** The collected distinct keys `ks`, sorted ascending. */
    def collected(spark: SparkSession, ks: Array[Long]): KeySet = {
      import spark.implicits._
      new KeySet(KeyRange(ks.head, ks.last), Some(ks),
        broadcast(ks.toSeq.toDF("__k")))
    }
  }

  /** Split the snapshot's lines into those `touch` may hit on `c` and
    * the rest, and read the touched files (None when none is). The read
    * always merges footer schemas: rewriting evolved files through a
    * sampled schema would silently drop a new column. */
  private def classify(spark: SparkSession, path: String, snap: Snapshot,
      c: String, touch: Touch)
      : (Seq[String], Seq[String], Option[DataFrame]) = {
    val (touched, untouched) =
      snap.lines.zip(snap.entries).partition(le => touch.touches(le._2, c))
    val cand =
      if (touched.isEmpty) None
      else Some(readFiles(spark, path, touched.map(_._2.path),
        mergeSchema = true))
    (touched.map(_._1), untouched.map(_._1), cand)
  }

  /** The ONE copy-on-write step of every rewriting write: [[classify]]
    * the snapshot's files, keep the touched files' survivors, add the
    * `incoming` rows (built from the candidate rows, where the caller
    * also enforces constraints), write the result as at least `files`
    * files and at least one per touched file, with the table's stats
    * columns, and commit it in place of the touched files, carrying the
    * snapshot's txn tag unless `txn` is given. Untouched files keep
    * their exact bytes and manifest lines. With no touched file and
    * nothing incoming it commits nothing and returns the snapshot's
    * version. */
  private def rewrite(spark: SparkSession, path: String, snap: Snapshot,
      c: String, touch: Touch, files: Int, statsCols: Seq[String],
      txn: Option[String], op: String)(
      incoming: Option[DataFrame] => Option[DataFrame]): Long = {
    val (touched, untouched, cand) = classify(spark, path, snap, c, touch)
    val survivors = cand.map(touch.survivors(_, col(c).cast("long")))
    val rewriteDf = (survivors, incoming(cand)) match {
      case (Some(s), Some(i)) => s.unionByName(i, allowMissingColumns = true)
      case (Some(s), None)    => s
      case (None, Some(i))    => i
      case (None, None)       => return snap.version
    }
    val rewritten = writeDataFiles(spark, path, rewriteDf,
      files = math.max(files, touched.size), Nil,
      inheritStats(statsCols, snap))
    commit(spark, path, untouched ++ rewritten,
      expectedCurrent = snap.version, txn = txn.orElse(snap.txn),
      schemaDdl = Some(rewriteDf.schema.toDDL), op = op)
  }

  /** Copy-on-write range DELETE: remove every row with `c` in
    * [lo, hi], rewriting ONLY the files whose stats envelope intersects
    * the range — files provably outside it keep their exact bytes and
    * manifest lines (at 100 TB a targeted delete touches the few files
    * holding the range, not the table; the right-to-be-forgotten shape
    * for a training corpus). Files without stats for `c` are rewritten
    * conservatively, and NULL (or cast-failed) `c` rows in rewritten
    * files are kept. One commit publishes the new snapshot; the old
    * files serve in-flight readers until [[vacuum]]. Rewritten files
    * get fresh stats for `statsCols` (pass the create-time columns to
    * keep future deletes/reads pruned). Returns the committed version
    * (the current one unchanged when no file intersects). Rewritten
    * files are hash-spread (clustering degrades locally after many
    * deletes); a `compact(..., zOrder = true)` commit restores the
    * layout — no maintenance window needed. */
  def deleteRange(spark: SparkSession, path: String, c: String,
      lo: Long, hi: Long, statsCols: Seq[String] = Nil): Long = {
    require(lo <= hi, s"deleteRange: lo $lo > hi $hi")
    rewrite(spark, path, snapshot(spark, path, None), c, KeyRange(lo, hi),
      files = 1, statsCols, txn = None, "delete-range")(_ => None)
  }

  /** Copy-on-write id-set DELETE: remove every row whose `c` is in
    * `ids` — the shape real right-to-be-forgotten requests arrive in
    * (scattered document ids, not one contiguous range). File pruning
    * is exact against the manifest stats: a file is rewritten only when
    * AT LEAST ONE id falls inside its [min, max] envelope (binary
    * search per file over the sorted set — driver-side, O(files · log
    * ids)); files without stats for `c` rewrite conservatively. On an
    * id-clustered layout a scattered-but-local set touches few files.
    * The survivor filter is a broadcast left anti join against a local
    * frame of the distinct ids, whatever their number; NULL /
    * cast-failed rows are KEPT (NULL equi-joins nothing, the same
    * contract as [[deleteRange]]). Returns the committed version
    * (unchanged when no envelope holds any id). */
  def deleteIds(spark: SparkSession, path: String, c: String,
      ids: Seq[Long], statsCols: Seq[String] = Nil): Long = {
    require(ids.nonEmpty, "deleteIds: empty id set")
    val snap = snapshot(spark, path, None)
    rewrite(spark, path, snap, c,
      KeySet.collected(spark, ids.distinct.sorted.toArray),
      files = 1, statsCols, txn = None, "delete-ids")(_ => None)
  }

  /** Copy-on-write MERGE (upsert) keyed on long-castable `c`: rows of
    * `updates` REPLACE every current row sharing their key; keys absent
    * from the table are inserted. One commit publishes the result.
    *
    * File pruning is two-tier: when the update key set is small enough
    * to collect (`<= maxCollectedKeys` distinct keys), pruning is EXACT
    * per file (binary search of the sorted set against each envelope,
    * the [[deleteIds]] discipline) and the survivor filter is a
    * broadcast LEFT ANTI JOIN against those keys; a larger update
    * prunes by the updates' global [min, max] envelope only — coarser
    * (an envelope-intersecting file may hold no update key) but never
    * incorrect — and anti-joins against the updates' own distinct keys.
    * Either way NULL-keyed rows survive (NULL never equi-joins — the
    * same NULL contract as the deletes). Files without stats for `c`
    * rewrite conservatively.
    *
    * The rewrite unions survivors with the updates and writes them as
    * `files` fresh files; untouched files keep their exact bytes and
    * manifest lines. Multi-row keys follow DELETE-then-INSERT
    * semantics: ALL current rows of an updated key are replaced by
    * exactly the update's rows for that key (the natural contract when
    * a key is a document/order and its rows are parts). `txn` is the
    * replay-idempotence tag ([[append]]). */
  def upsert(spark: SparkSession, path: String, c: String,
      updates: DataFrame, files: Int, statsCols: Seq[String] = Nil,
      txn: Option[String] = None,
      maxCollectedKeys: Long = 100000L): Long = {
    val snap = snapshot(spark, path, None)
    if (txn.isDefined && snap.txn == txn) return snap.version
    enforceConstraints(snap.constraints, path, updates, "upsert")
    val keys = keyProfile(updates, col(c).cast("long"), maxCollectedKeys,
      "upsert: updates carry no non-NULL keys")
    rewrite(spark, path, snap, c, keys, files, statsCols, txn, "upsert")(
      _ => Some(updates))
  }

  /** Generalized copy-on-write MERGE keyed on long-castable `c` —
    * [[upsert]] is the (replace, insert) corner of this matrix:
    *
    *  - `whenMatched`: what happens to CURRENT rows whose key appears
    *    in `source`: "replace" (delete-then-insert per key, the upsert
    *    contract), "delete" (matched keys' rows removed), or "keep"
    *    (current rows untouched — NO file rewrites at all).
    *  - `whenNotMatched`: source rows whose key is NOT in the table:
    *    "insert" or "ignore".
    *
    * (keep, insert) is the IDEMPOTENT-INGEST primitive a training
    * corpus needs: add only genuinely NEW keys, skip re-deliveries
    * wholesale — no rewrite, I/O = source plus ONE key-scan of the
    * envelope-candidate slice, and re-merging an already-ingested
    * source is a no-op that commits nothing. (delete, ignore) is the
    * DataFrame-keyed delete — [[deleteIds]] without the driver-side id
    * list, for id sets that only exist distributed. (replace, ignore)
    * updates existing keys only. Pruning (exact key set when
    * collectable, envelope otherwise), the anti-join survivor filter,
    * NULL-row survival, and txn replay no-ops are [[upsert]]'s. */
  def merge(spark: SparkSession, path: String, c: String,
      source: DataFrame, files: Int,
      whenMatched: String = "replace", whenNotMatched: String = "insert",
      statsCols: Seq[String] = Nil, txn: Option[String] = None,
      maxCollectedKeys: Long = 100000L): Long = {
    require(Set("replace", "delete", "keep")(whenMatched),
      s"merge: whenMatched '$whenMatched' not in replace|delete|keep")
    require(Set("insert", "ignore")(whenNotMatched),
      s"merge: whenNotMatched '$whenNotMatched' not in insert|ignore")
    require(whenMatched != "keep" || whenNotMatched == "insert",
      "merge(keep, ignore) does nothing — refuse rather than no-op")
    if (whenMatched == "replace" && whenNotMatched == "insert")
      return upsert(spark, path, c, source, files, statsCols, txn,
        maxCollectedKeys)
    val snap = snapshot(spark, path, None)
    if (txn.isDefined && snap.txn == txn) return snap.version
    val keyCol = col(c).cast("long")
    val keys = keyProfile(source, keyCol, maxCollectedKeys,
      "merge: source carries no non-NULL keys")
    // the candidate slice's distinct keys classify the source rows;
    // keys outside every envelope are new by construction
    def bySlice(cand: DataFrame, how: String): DataFrame =
      source.join(cand.select(keyCol.as("__tk")).where(col("__tk").isNotNull)
        .distinct(), keyCol === col("__tk"), how)
    def notMatched(cand: Option[DataFrame]): DataFrame =
      cand.fold(source)(bySlice(_, "left_anti"))
    if (whenMatched == "keep") { // insert-only: never rewrite, maybe no-op
      // Write-first, decide-after: the pre-r15 shape ran the
      // not-matched anti-join TWICE (`ins.isEmpty`, then the write
      // recomputed it). Writing once and reading emptiness off the
      // committed-to-be lines' row counts (free with footer stats)
      // halves the source passes; an empty or refused write leaves
      // only invisible staging debris (the crash contract), which is
      // deleted here anyway.
      val ins = notMatched(classify(spark, path, snap, c, keys)._3)
      val added = writeDataFiles(spark, path, ins, files, Nil,
        inheritStats(statsCols, snap))
      val addedFiles = added.map(parseEntry)
      val (fs, _) = fsOf(spark, path)
      val base = new Path(path)
      def dropStaged(): Unit = addedFiles.headOption
        .map(_.path.split('/').head)
        .foreach(sub => fs.delete(new Path(base, sub), true))
      // best-effort cleanup that must NOT mask the refusal it follows:
      // a failing filesystem delete is recorded as suppressed, the
      // original constraint violation still propagates
      def dropStagedQuietly(cause: Throwable): Unit =
        try dropStaged()
        catch { case scala.util.control.NonFatal(e) =>
          cause.addSuppressed(e) }
      if (writtenRows(spark, path, addedFiles) == 0L) {
        dropStaged() // no new keys: metadata no-op, same version back
        return snap.version
      }
      // constraints check the WRITTEN slice (cheaper than re-running
      // the anti-join on the source); a violation drops the staged
      // files and refuses before anything commits
      try enforceConstraints(snap.constraints, path,
        readFiles(spark, path, addedFiles.map(_.path),
          mergeSchema = false), "merge")
      catch { case e: Throwable => dropStagedQuietly(e); throw e }
      commit(spark, path, snap.lines ++ added,
        expectedCurrent = snap.version, txn = txn.orElse(snap.txn),
        schemaDdl = Some(ins.schema.toDDL), op = "merge")
    } else // delete | replace(+ignore): CoW rewrite of the candidates
      rewrite(spark, path, snap, c, keys, files, statsCols, txn, "merge") {
        cand =>
          val in =
            if (whenMatched == "replace") cand.map(bySlice(_, "left_semi"))
            else if (whenNotMatched == "insert") Some(notMatched(cand))
            else None
          in.foreach(enforceConstraints(snap.constraints, path, _, "merge"))
          in
      }
  }

  /** ATOMIC BACKFILL: replace every row with `c` in [lo, hi] by
    * `replacement` in ONE commit — the reference's monthly
    * delete-then-insert backfill (`database_service.py:415-475` runs
    * DELETE + INSERT in one DB transaction) re-expressed as one
    * snapshot: readers see the old month or the new month, never the
    * deleted-but-not-yet-reloaded window a two-step file backfill
    * exposes. File-level copy-on-write like [[deleteRange]] (only
    * envelope-intersecting files rewrite; the replacement rows ride the
    * same write), NULL-`c` rows in rewritten files survive, and the
    * caller is trusted that `replacement` itself lies in [lo, hi] —
    * rows outside it are still INSERTED (this is replace-range +
    * insert, not a filtered load; validate upstream, as the reference's
    * count-first guard does). */
  def replaceRange(spark: SparkSession, path: String, c: String,
      lo: Long, hi: Long, replacement: DataFrame, files: Int,
      statsCols: Seq[String] = Nil, txn: Option[String] = None): Long = {
    require(lo <= hi, s"replaceRange: lo $lo > hi $hi")
    val snap = snapshot(spark, path, None)
    if (txn.isDefined && snap.txn == txn) return snap.version
    enforceConstraints(snap.constraints, path, replacement, "replaceRange")
    rewrite(spark, path, snap, c, KeyRange(lo, hi), files, statsCols, txn,
      "replace-range")(_ => Some(replacement))
  }

  /** Incremental scan: the rows ADDED between snapshot `fromVersion`
    * (exclusive) and `toVersion` (inclusive) — the files in `to`'s
    * manifest that `from`'s does not list. This is the incremental-
    * consumer primitive: a downstream job processes only the delta
    * since the snapshot it last saw, never the table (at 100 TB the
    * difference between a nightly re-read and a nightly no-op).
    *
    * Defined for APPEND-ONLY ranges: if any file `from` listed is gone
    * by `to` (a compact/delete/upsert rewrote history in between), the
    * added files double-count rewritten rows — the call fails loudly
    * and the consumer should fall back to a full re-read, the row-level
    * [[diffSnapshots]], or opt into `ignoreRewrites = true` (deliver
    * the added files anyway — rewritten files' SURVIVING rows arrive
    * again, so downstream must tolerate duplicates; the Delta
    * `ignoreChanges` contract). Returns an empty, schema-typed frame
    * when nothing was added. Both versions must still be retained
    * ([[vacuum]]). */
  def readChanges(spark: SparkSession, path: String,
      fromVersion: Long, toVersion: Long,
      ignoreRewrites: Boolean = false): DataFrame = {
    require(fromVersion <= toVersion,
      s"readChanges: from $fromVersion > to $toVersion")
    val (removed, added, to) = fileDelta(spark, path, fromVersion, toVersion)
    require(ignoreRewrites || removed.isEmpty,
      s"manifest table $path: v$fromVersion..v$toVersion is not " +
        s"append-only (${removed.size} file(s) rewritten/removed, e.g. " +
        s"${removed.head}) — added files would double-count rewritten " +
        "rows; re-read the snapshot, diffSnapshots, or pass " +
        "ignoreRewrites = true to accept duplicates")
    if (added.isEmpty) noRows(spark, path, to)
    else readFiles(spark, path, added, mergeSchema = true)
  }

  /** The file delta of two retained snapshots, in manifest order: the
    * files `fromVersion` lists that `toVersion` does not (removed), the
    * reverse (added), and the `toVersion` snapshot — the one input of
    * [[readChanges]] and [[diffSnapshots]]. */
  private def fileDelta(spark: SparkSession, path: String, fromVersion: Long,
      toVersion: Long): (Seq[String], Seq[String], Snapshot) = {
    val from = snapshot(spark, path, Some(fromVersion)).files
    val to = snapshot(spark, path, Some(toVersion))
    (from.filterNot(to.files.toSet), to.files.filterNot(from.toSet), to)
  }

  /** Incremental-consumer checkpoint: run `process` over the delta
    * since the version recorded in `stateFile`, then record the new
    * version — the consumer half of [[readChanges]] (a nightly
    * downstream job calls this and touches only the day's arrivals).
    * First run (no state) processes the whole table. The state write is
    * staged + one rename, and it happens AFTER `process` returns: a
    * crash mid-process re-delivers the same delta on restart —
    * AT-LEAST-ONCE, so pair it with an idempotent sink (e.g.
    * [[graft.streaming.StreamingEtl.writeBatchUpsert]] keyed on the
    * delta's version tag) for exactly-once end to end. Retention
    * contract: [[vacuum]]'s keepVersions must cover the slowest
    * consumer's lag, or its next readChanges fails loudly (never
    * silently re-reads the world). Returns the version now recorded. */
  def processChanges(spark: SparkSession, path: String,
      stateFile: String)(process: DataFrame => Unit): Long = {
    val (fs, sp) = fsOf(spark, stateFile)
    val from = if (fs.exists(sp)) readText(fs, sp).trim.toLong else 0L
    val cur = snapshot(spark, path, None).version
    if (cur == from) return from // nothing new — no read, no state churn
    val delta =
      if (from == 0L) read(spark, path, version = Some(cur))
      else readChanges(spark, path, from, cur)
    process(delta)
    val staged = new Path(sp.getParent,
      s".${sp.getName}.staged.${stageId()}")
    val out = fs.create(staged, false)
    try out.write(s"$cur\n".getBytes("UTF-8")) finally out.close()
    // HDFS and hive-exec's ProxyLocalFileSystem refuse an existing
    // target (Hadoop's LocalFileSystem would replace it)
    fs.delete(sp, false)
    require(fs.rename(staged, sp),
      s"could not record consumer state at $stateFile")
    cur
  }

  /** Row-level CHANGE FEED between two retained snapshots — the diff
    * [[readChanges]] refuses when maintenance rewrote history. Returns
    * the `to`-snapshot's columns plus `_change` ('insert'/'delete'),
    * with bag semantics: a row updated in place is one delete (old
    * values) + one insert (new values); duplicate rows diff by
    * multiplicity.
    *
    * Scale shape: only the SYMMETRIC DIFFERENCE of the two file lists
    * is ever listed or opened — files both snapshots share cancel
    * driver-side by manifest path, so a copy-on-write delete / upsert /
    * backfill diffs in I/O proportional to the files it touched, not
    * the table ([[deleteRange]]'s envelope pruning bounds that churn to
    * the slice). Surviving rows that a rewrite carried over cancel
    * VALUE-wise in one hash aggregation (insert count minus delete
    * count per distinct row, non-zero survives — one scan of the
    * changed slice, one shuffle; no per-direction `exceptAll` double
    * scan), so a pure [[compact]] or [[rollback]] round-trip diffs to
    * empty. Both versions must still be retained ([[vacuum]]). */
  def diffSnapshots(spark: SparkSession, path: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"diffSnapshots: from $fromVersion > to $toVersion")
    val (removed, added, to) = fileDelta(spark, path, fromVersion, toVersion)
    def slice(fs: Seq[String], tag: String): DataFrame =
      readFiles(spark, path, fs, mergeSchema = true)
        .withColumn("_change", lit(tag))
    val tagged = (removed, added) match {
      case (Nil, Nil) =>
        // identical file lists (e.g. a no-op commit): typed empty feed
        return noRows(spark, path, to).withColumn("_change", lit(""))
      case (Nil, a) => slice(a, "insert")
      case (r, Nil) => slice(r, "delete")
      case (r, a) => slice(a, "insert") // unionByName aligns evolved
        .unionByName(slice(r, "delete"), allowMissingColumns = true)
    }
    val dataCols = tagged.columns.filter(_ != "_change")
    tagged.groupBy(dataCols.map(col): _*)
      .agg((fsum(when(col("_change") === "insert", 1L).otherwise(0L)) -
        fsum(when(col("_change") === "delete", 1L).otherwise(0L))).as("_n"))
      .filter(col("_n") =!= 0L)
      .withColumn("_change",
        when(col("_n") > 0L, "insert").otherwise("delete"))
      .withColumn("_dup", explode(sequence(lit(1L), fabs(col("_n")))))
      .select(dataCols.map(col) :+ col("_change"): _*)
  }

  /** ROLLBACK: republish snapshot `toVersion`'s exact file list (and
    * txn tag — the table state IS that snapshot, so a writer replaying
    * the rolled-back batch must re-append) as the NEXT version. Nothing
    * is deleted or rewritten — a rollback of a rollback works, readers
    * switch with the usual one-rename visibility, and [[vacuum]]'s
    * retention governs how far back is reachable. The undo-a-bad-write
    * op: data files are immutable, so restoring a state is just
    * restoring a file list. */
  def rollback(spark: SparkSession, path: String,
      toVersion: Long): Long = {
    val target = snapshot(spark, path, Some(toVersion))
    val cur = snapshot(spark, path, None).version
    require(toVersion <= cur,
      s"rollback: v$toVersion is ahead of current v$cur")
    commit(spark, path, target.lines, expectedCurrent = cur,
      txn = target.txn, schemaDdl = target.schemaDdl, op = "rollback")
  }

  /** The snapshot's per-file metadata as a DataFrame — the `.files`
    * inspection table every manifest format grows (Iceberg `.files`,
    * Delta `DESCRIBE DETAIL`): one row per (file, stats column) with
    * the recorded row count and (min, max) envelope, a single
    * null-stat row for files that carry none. Driver-side over the one
    * manifest — no file opens, any table size. This is also the
    * AUDIT surface: the p29 gate pins that the recorded metadata is
    * TRUE of the data (Σ n_rows = count(*), min/max envelopes bound
    * the real extremes) — stats a pruning read trusts must never
    * drift from the files they describe. */
  def filesDf(spark: SparkSession, path: String,
      version: Option[Long] = None): DataFrame = {
    val rows = snapshot(spark, path, version).entries.flatMap { e =>
      val nRows: java.lang.Long =
        e.stats.get(RowsStat).map(s => java.lang.Long.valueOf(s._1)).orNull
      val dataStats = e.stats.view.filterKeys(_ != RowsStat).toSeq
      if (dataStats.isEmpty)
        Seq(Row(e.path, nRows, null, null, null))
      else dataStats.map { case (c, (lo, hi)) =>
        Row(e.path, nRows, c, java.lang.Long.valueOf(lo),
          java.lang.Long.valueOf(hi))
      }
    }
    spark.createDataFrame(
      new java.util.ArrayList[Row](rows.asJava),
      StructType.fromDDL(
        "file STRING, n_rows BIGINT, stat_col STRING, " +
          "stat_min BIGINT, stat_max BIGINT"))
  }

  /** Retained commit history as a DataFrame: one row per retained
    * manifest — version, file count, metadata row count (null when any
    * file predates `__rows`), txn tag, and the tag names pinning it.
    * Driver-side (a read per retained manifest, no data I/O). */
  def history(spark: SparkSession, path: String): DataFrame = {
    val byVersion = tags(spark, path).toSeq.groupBy(_._2)
    val rows = versions(spark, path).map { v =>
      val snap = snapshot(spark, path, Some(v))
      Row(v, snap.op.orNull, snap.lines.size.toLong,
        snap.rows.map(java.lang.Long.valueOf).orNull, snap.txn.orNull,
        byVersion.getOrElse(v, Nil).map(_._1).sorted)
    }
    spark.createDataFrame(
      new java.util.ArrayList[Row](rows.asJava),
      StructType.fromDDL(
        "version BIGINT, op STRING, n_files BIGINT, n_rows BIGINT, " +
          "txn STRING, tags ARRAY<STRING>"))
  }

  /** SHALLOW CLONE: a zero-copy writable branch of snapshot `version`
    * (default: current). The clone's first manifest lists the SOURCE's
    * data files by ABSOLUTE path — no bytes move, any table size, one
    * driver-side manifest write — and every subsequent write on the
    * clone lands under the clone's own directory: appends add, CoW
    * deletes/upserts rewrite only what they touch (dropping the
    * absolute refs they rewrite), [[compact]] fully materializes it.
    * The experiment-branch primitive: fork the corpus, filter/augment
    * the fork, train, diff — the source never sees any of it.
    *
    * Durability: the clone is valid while the source snapshot's FILES
    * survive the source's [[vacuum]] — so by default the source
    * version is pinned with a tag (`clone-<dst name>-v<version>`),
    * making the lifetime explicit and releasable ([[dropTag]] when the
    * clone is compacted or dropped). `pinSource = false` skips the pin
    * (caller owns retention — e.g. the source is already tagged).
    * Returns the clone's version (always 1). */
  def shallowClone(spark: SparkSession, src: String, dst: String,
      version: Option[Long] = None, pinSource: Boolean = true): Long = {
    val (sfs, sp) = fsOf(spark, src)
    val snap = snapshot(spark, src, version)
    require(latest(spark, dst).isEmpty,
      s"shallowClone: $dst is already a manifest table")
    val qualified = sfs.makeQualified(sp)
    val absLines = snap.lines.map { l =>
      val cut = l.indexOf('|')
      val (file, rest) =
        if (cut < 0) (l, "") else (l.substring(0, cut), l.substring(cut))
      resolveFile(qualified, file).toString + rest
    }
    if (pinSource) {
      val dstName = new Path(dst).getName
        .replaceAll("[^A-Za-z0-9._-]", "-")
      tag(spark, src, s"clone-$dstName-v${snap.version}",
        Some(snap.version))
    }
    val (dfs, dp) = fsOf(spark, dst)
    dfs.mkdirs(dp)
    // a clone is a NEW table: no txn carried (its streams/writers are
    // its own), schema carried so an empty clone still types
    commit(spark, dst, absLines, expectedCurrent = 0L, txn = None,
      schemaDdl = snap.schemaDdl, op = "clone")
  }

  /** CHECK constraints: data quality enforced AT THE COMMIT BOUNDARY —
    * a table property (carried in every manifest header) every
    * data-adding write validates its INCOMING rows against, refusing
    * the whole commit on any violation (nothing partial lands; the
    * training-data contract "no empty text ever enters the corpus"
    * becomes unbypassable instead of a convention). SQL semantics:
    * a row violates when the expression is FALSE; NULL passes (add a
    * explicit IS NOT NULL to forbid it). Adding a constraint validates
    * the WHOLE existing table first (one scan, at add time only — so
    * maintenance rewrites of already-validated rows never re-check),
    * then commits a same-files snapshot carrying the new set. Write
    * cost afterwards is one pass over each batch's new rows. */
  def addConstraint(spark: SparkSession, path: String, name: String,
      sqlExpr: String): Long = {
    require(name.matches(TagPattern),
      s"constraint name '$name' must match $TagPattern")
    require(sqlExpr.nonEmpty && !sqlExpr.contains('\n'),
      "constraint expression must be non-empty and single-line")
    val snap = snapshot(spark, path, None)
    require(!snap.constraints.exists(_._1 == name),
      s"constraint '$name' already exists on $path")
    val bad = scan(spark, path, snap, mergeSchema = true)
      .filter(!org.apache.spark.sql.functions.coalesce(
        org.apache.spark.sql.functions.expr(sqlExpr).cast("boolean"),
        lit(true))).count()
    require(bad == 0L,
      s"cannot add constraint '$name' ($sqlExpr): $bad existing row(s) " +
        "violate it — clean the table first")
    commit(spark, path, snap.lines, expectedCurrent = snap.version,
      txn = snap.txn, schemaDdl = snap.schemaDdl, op = "add-constraint",
      constraintsOverride = Some(snap.constraints :+ (name -> sqlExpr)))
  }

  /** Drop a CHECK constraint; later writes stop validating it. */
  def dropConstraint(spark: SparkSession, path: String,
      name: String): Long = {
    val snap = snapshot(spark, path, None)
    require(snap.constraints.exists(_._1 == name),
      s"manifest table $path has no constraint '$name'")
    commit(spark, path, snap.lines, expectedCurrent = snap.version,
      txn = snap.txn, schemaDdl = snap.schemaDdl, op = "drop-constraint",
      constraintsOverride = Some(snap.constraints.filterNot(_._1 == name)))
  }

  /** The table's CHECK constraints, name -> SQL expression. */
  def constraints(spark: SparkSession, path: String): Map[String, String] =
    latest(spark, path).map(_.constraints.toMap)
      .getOrElse(Map.empty)

  /** Refuse the write when any incoming row violates one of `cs`, the
    * constraints of the snapshot the write planned against — called by
    * every data-adding write on its NEW rows only ([[addConstraint]]
    * validated everything older). */
  private def enforceConstraints(cs: Seq[(String, String)], path: String,
      df: => DataFrame, op: String): Unit = {
    // by-name `df`: constraint-free tables (the common case) never pay
    // for constructing the frame — merge(keep)'s check reads back the
    // just-written slice, whose plain construction costs footer-based
    // schema inference even when there is nothing to enforce
    if (cs.isEmpty) return
    // ALL constraints validate in ONE aggregate pass over the incoming
    // rows (the pre-r15 shape ran one count() job per constraint — k
    // constraints cost k scans of every data-adding write's input)
    import org.apache.spark.sql.functions.{coalesce, expr}
    val aggs = cs.zipWithIndex.map { case ((_, e), i) =>
      fsum(when(!coalesce(expr(e).cast("boolean"), lit(true)), 1L)
        .otherwise(0L)).as(s"__c$i")
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    cs.zipWithIndex.foreach { case ((n, e), i) =>
      val bad = if (row.isNullAt(i)) 0L else row.getLong(i)
      require(bad == 0L,
        s"$op refused on $path: CHECK constraint '$n' ($e) violated " +
          s"by $bad incoming row(s) — nothing committed")
    }
  }

  /** Valid tag names; the pattern excludes '.'-led and 'staged'-like
    * collisions with internal names by requiring an alphanumeric head. */
  private val TagName = """_tag\.([A-Za-z0-9][A-Za-z0-9._-]*)""".r
  private val TagPattern = "[A-Za-z0-9][A-Za-z0-9._-]*"

  /** TAG: a named, durable ref to a snapshot — "model-x-train-set"
    * instead of "version 17". Tags PIN their version against [[vacuum]]
    * (retention keeps every tagged manifest and its data files until
    * [[dropTag]]), so "read the exact corpus model X trained on" stays
    * answerable past keepVersions — the reproducibility contract with a
    * name on it. A tag is a `_tag.<name>` file holding the version,
    * published staged + one rename like a manifest; it never moves
    * (refuses an existing name — drop first, explicitly). Defaults to
    * the current version. Tagging a vacuumed/uncommitted version is
    * refused (never mint a dangling ref). Returns the pinned version. */
  def tag(spark: SparkSession, path: String, name: String,
      version: Option[Long] = None): Long = {
    require(name.matches(TagPattern),
      s"tag name '$name' must match $TagPattern")
    val v = snapshot(spark, path, version).version
    val (fs, p) = fsOf(spark, path)
    val t = new Path(p, s"_tag.$name")
    def taken = new IllegalArgumentException(
      s"tag '$name' already exists on $path — dropTag it first " +
        "(tags never silently move)")
    if (fs.exists(t)) throw taken
    publish(fs, new Path(p, s".tag.staged.${stageId()}"), t, s"$v\n",
      taken, s"could not publish tag $t")
    v
  }

  /** All tags on the table, name -> pinned version. */
  def tags(spark: SparkSession, path: String): Map[String, Long] = {
    val (fs, p) = fsOf(spark, path)
    if (!fs.exists(p)) return Map.empty
    fs.listStatus(p).iterator.flatMap { st =>
      st.getPath.getName match {
        case TagName(n) => Some(n -> readText(fs, st.getPath).trim.toLong)
        case _ => None
      }
    }.toMap
  }

  /** Read the snapshot a tag pins — [[read]] at the tag's version. */
  def readTag(spark: SparkSession, path: String, name: String,
      mergeSchema: Boolean = false): DataFrame = {
    val vs = tags(spark, path)
    require(vs.contains(name),
      s"manifest table $path has no tag '$name'; tags: " +
        s"${vs.keys.toSeq.sorted.mkString(", ")}")
    read(spark, path, mergeSchema = mergeSchema, version = Some(vs(name)))
  }

  /** Drop a tag: the version loses its pin and the next [[vacuum]] may
    * reclaim it (if outside keepVersions) — deletion stays a vacuum
    * decision, never a dropTag side effect. */
  def dropTag(spark: SparkSession, path: String, name: String): Unit = {
    val (fs, p) = fsOf(spark, path)
    val t = new Path(p, s"_tag.$name")
    require(fs.exists(t), s"manifest table $path has no tag '$name'")
    require(fs.delete(t, false), s"could not delete tag $t")
  }

  /** `col BETWEEN lo AND hi` through MANIFEST-SIDE file pruning: keep
    * only the files whose recorded [min, max] envelope intersects the
    * range (files without stats for `c` are always kept — conservative)
    * and apply the exact predicate to just those. At 100 TB the win is
    * not row-group skipping — parquet already does that — it is never
    * LISTING or opening the excluded files: for a selective range over
    * a [[create]]d/[[compact]]ed clustered table, I/O is proportional
    * to the slice, and the decision runs driver-side over the one
    * manifest (a line per file), no footer reads at all. The same
    * stats-in-manifest idea as Iceberg/Delta file skipping. */
  def readRange(spark: SparkSession, path: String, c: String,
      lo: Long, hi: Long, version: Option[Long] = None): DataFrame = {
    require(lo <= hi, s"readRange: lo $lo > hi $hi")
    readPruned(spark, path, version, Seq(c -> KeyRange(lo, hi)))
  }

  /** Delete data files referenced by NONE of the newest `keepVersions`
    * manifests, staged manifest leftovers, and the superseded manifests
    * themselves. keepVersions >= 2 keeps the previous snapshot readable
    * for in-flight readers (grace); run vacuum only when anything that
    * resolved an older manifest has drained. A vacuum racing an
    * in-flight writer can delete the writer's staged manifest or
    * not-yet-committed files — the writer then FAILS LOUDLY at publish
    * (nothing committed corrupts), but schedule vacuum in the same
    * single-writer window as compaction. Returns deleted paths. */
  def vacuum(spark: SparkSession, path: String,
      keepVersions: Int = 2): Seq[String] = {
    require(keepVersions >= 1, "keepVersions must be >= 1")
    val (fs, p) = fsOf(spark, path)
    val v = snapshot(spark, path, None).version
    // keep only versions that still EXIST: an earlier vacuum with a
    // smaller keepVersions may already have reclaimed _manifest.(v-1) —
    // keep-what-exists, never throw on the gap. TAGGED versions are
    // pinned regardless of age ([[tag]]'s retention contract).
    val keepManifests =
      ((0 until keepVersions).map(v - _) ++ tags(spark, path).values)
        .distinct
        .filter(kv => kv > 0 && fs.exists(new Path(p, s"_manifest.$kv")))
    val live: Set[String] =
      keepManifests.flatMap(kv => snapshot(spark, path, Some(kv)).files).toSet
    val deleted = scala.collection.mutable.ArrayBuffer.empty[String]
    fs.listStatus(p).foreach { st =>
      val name = st.getPath.getName
      name match {
        case ManifestName(mv) =>
          if (!keepManifests.contains(mv.toLong)) {
            fs.delete(st.getPath, false); deleted += name
          }
        case _ if name.startsWith("_manifest.") => // staged leftover
          fs.delete(st.getPath, false); deleted += name
        case _ if name.startsWith(".tag.staged.") => // crashed tag write
          fs.delete(st.getPath, false); deleted += name
        case _ if st.isDirectory && name.startsWith("c") =>
          fs.listStatus(st.getPath).foreach { f =>
            val rel = s"$name/${f.getPath.getName}"
            if (!live.contains(rel) && !f.getPath.getName.startsWith("_")) {
              fs.delete(f.getPath, false); deleted += rel
            }
          }
          if (fs.listStatus(st.getPath)
              .forall(_.getPath.getName.startsWith("_"))) {
            fs.delete(st.getPath, true)
          }
        case _ => // not ours (a reader's scratch, _SUCCESS at root, ...)
      }
    }
    deleted.toSeq
  }

  /** Write `df` into a fresh `c<uuid>/` subdir (range-clustered when
    * `sortCols` given, the [[Layout.writeRangeClustered]] recipe) and
    * return the serialized manifest lines of the parquet files written.
    * The files are INVISIBLE until a manifest referencing them is
    * committed. With `statsCols`, one extra scan of the JUST-WRITTEN
    * files records per-file (min, max) longs in the lines — the
    * write-time cost every stats-carrying table format pays, over new
    * data only, never the table. */
  private def writeDataFiles(spark: SparkSession, path: String,
      df: DataFrame, files: Int, sortCols: Seq[String],
      statsCols: Seq[String], zOrder: Boolean = false): Seq[String] = {
    require(files >= 1, "files must be >= 1")
    require(statsCols.forall(c => !c.exists("|:#".contains(_))),
      "stats column names must not contain '|', ':' or '#'")
    require(!statsCols.contains(RowsStat),
      s"'$RowsStat' is a reserved stat key (per-file row counts)")
    require(!zOrder || sortCols.size == 2,
      "zOrder layout takes exactly two sortCols")
    val sub = "c" + java.util.UUID.randomUUID.toString.take(12)
    val dir = new Path(path, sub)
    if (zOrder)
      // Morton-curve layout: every file narrow in BOTH sortCols, so
      // stats recorded on both let readBox prune on either/both axes
      ZOrder.writeZOrdered(df, sortCols.head, sortCols(1), dir.toString,
        files)
    else if (sortCols.nonEmpty)
      Layout.writeRangeClustered(df, sortCols, dir.toString, files)
    else
      df.repartition(files).write.mode("overwrite").parquet(dir.toString)
    val (fs, _) = fsOf(spark, path)
    val names = fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.endsWith(".parquet")).sorted.toSeq
    val statsByFile: Map[String, String] =
      if (statsCols.isEmpty) Map.empty
      else footerStats(spark, dir, names, df.schema, statsCols).getOrElse {
        // Fallback — ONE scan of the just-written files (the pre-r15
        // stats pass): taken only when a stats column is not integral
        // in the written schema (the footer min/max of e.g. a numeric
        // STRING is lexicographic, not the cast-to-long envelope the
        // manifest records) or a footer lacks trustworthy statistics.
        val aggs = statsCols.flatMap(c => Seq(
          min(col(c).cast("long")).as(s"__lo_$c"),
          max(col(c).cast("long")).as(s"__hi_$c"))) :+
          // row count rides the same scan for free — the metadata-only
          // countRows() source
          org.apache.spark.sql.functions.count(lit(1)).as("__n")
        spark.read.parquet(dir.toString)
          .groupBy(input_file_name().as("__f"))
          .agg(aggs.head, aggs.tail: _*)
          .collect()
          .map { r =>
            val fname = r.getString(0).split('/').last
            val parts = statsCols.flatMap { c =>
              val lo = r.getAs[Any](s"__lo_$c")
              val hi = r.getAs[Any](s"__hi_$c")
              // an all-NULL column in a file has no envelope — omit the
              // stat, the reader keeps the file (conservative)
              if (lo == null || hi == null) None
              else Some(s"$c:$lo:$hi")
            } :+ {
              val n = r.getAs[Long]("__n")
              s"$RowsStat:$n:$n"
            }
            fname -> (if (parts.isEmpty) "" else parts.mkString("|", "|", ""))
          }.toMap
      }
    names.map(n => s"$sub/$n" + statsByFile.getOrElse(n, ""))
  }

  /** ONE-pass key profile of an upsert/merge source as a [[KeySet]]:
    * the collected distinct keys when they fit `maxCollectedKeys`, else
    * the source's [min, max] bounds and its own distinct-key frame. The
    * pre-r15 shape paid TWO full passes over the source — a min/max/
    * count_distinct aggregate, then the distinct-keys collect — for the
    * same information; here the bounds fall out of the collected key
    * set, and only the rare past-the-cap path pays a second (bounds
    * only) pass. `emptyMsg` preserves each caller's refusal message. */
  private def keyProfile(df: DataFrame, keyCol: Column,
      maxCollectedKeys: Long, emptyMsg: String): KeySet = {
    val cap = math.min(maxCollectedKeys, (Int.MaxValue - 2).toLong).toInt
    val keys = df.select(keyCol.as("__k")).where(col("__k").isNotNull)
      .distinct()
    val collected = keys.limit(cap + 1).collect().map(_.getLong(0))
    require(collected.nonEmpty, emptyMsg)
    if (collected.length <= cap)
      KeySet.collected(df.sparkSession, collected.sorted)
    else {
      val b = df.agg(min(keyCol), max(keyCol)).head()
      new KeySet(KeyRange(b.getLong(0), b.getLong(1)), None, keys)
    }
  }

  /** Total rows behind freshly-written manifest lines: the `__rows`
    * stat when the write recorded stats, else a driver-side footer read
    * per file — never a data scan. */
  private def writtenRows(spark: SparkSession, path: String,
      entries: Seq[ManifestEntry]): Long = {
    val base = new Path(path)
    val (stated, unstated) = entries.partitionMap(e =>
      e.stats.get(RowsStat).map(_._1).toLeft(resolveFile(base, e.path)))
    stated.sum + ParquetFooters.rowCounts(unstated,
      spark.sparkContext.hadoopConfiguration).sum
  }

  /** Signals [[footerStats]] to fall back to the scan-based stats pass. */
  private object FooterBail
    extends scala.util.control.ControlThrowable("footer stats unavailable")

  /** Per-file (min, max) envelopes and row counts from the PARQUET
    * FOOTERS of the just-written files — the write-side stats pass
    * without re-reading a single data page. The pre-r15 shape re-scanned
    * everything it had just written (`read.parquet(...).groupBy(
    * input_file_name())`), one full extra pass per create / append /
    * compact / CoW rewrite; parquet already recorded exact per-row-group
    * min/max/null-count for every column at write, so for INTEGRAL stats
    * columns (the manifest's stat values are longs by contract) the
    * envelope is a driver-side footer read per file — O(files) metadata
    * I/O instead of O(rows) data I/O, which is also the only shape that
    * stays cheap at 100 TB (a compaction's stats pass must not re-read
    * the terabytes it just wrote).
    *
    * Exactness contract (why this can replace the scan bit-for-bit):
    * parquet int32/int64 statistics are exact values, never truncated
    * (truncation applies to binary/string stats only), min/max ignore
    * NULLs exactly like Spark's `min`/`max`, and for integral Spark
    * types `cast("long")` is value-preserving — so footer-derived
    * envelopes equal the scan-derived ones on every input
    * (ManifestTableSpec pins this equality, NULLs and all-NULL files
    * included). Returns None — scan fallback — when any stats column is
    * non-integral in the written schema (string/decimal/date casts
    * don't match footer ordering), a column chunk is missing, or a
    * footer carries no trustworthy statistics (all-NULL is fine and
    * omits the envelope, conservative like the scan path; absent stats
    * with non-null values bails). */
  private def footerStats(spark: SparkSession, dir: Path,
      names: Seq[String], schema: StructType,
      statsCols: Seq[String]): Option[Map[String, String]] = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val integral = schema.fields.collect {
      case f if f.dataType == ByteType || f.dataType == ShortType ||
        f.dataType == IntegerType || f.dataType == LongType => f.name
    }.toSet
    if (!statsCols.forall(integral)) return None
    val conf = spark.sparkContext.hadoopConfiguration
    // footer opens are independent per file and I/O-bound — read them
    // in parallel on the driver (a 16-file write pays one footer
    // latency, not sixteen in sequence; ~35 stats-carrying writes per
    // sweep make this a per-gate constant). Any per-file failure falls
    // back to the scan pass for the WHOLE write: FooterBail silently
    // (the footer is untrustworthy by design), any other error — an FS
    // or footer-read fault — with a stderr line naming the file, so a
    // degraded stats path is visible.
    import scala.collection.parallel.CollectionConverters._
    val perFile: Seq[Option[(String, String)]] = names.par.map { n =>
      try Some(footerStatsOfFile(dir, n, conf, statsCols))
      catch {
        case FooterBail => None
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[manifest] footer stats of $n failed, " +
            s"using scan-derived stats: ${e.getMessage}")
          None
      }
    }.seq
    if (perFile.exists(_.isEmpty)) None
    else Some(perFile.flatten.toMap)
  }

  /** One file's manifest-stat string from its parquet footer — throws
    * [[FooterBail]] when the footer's statistics are untrustworthy. */
  private def footerStatsOfFile(dir: Path, n: String,
      conf: org.apache.hadoop.conf.Configuration,
      statsCols: Seq[String]): (String, String) = {
    val (rows, ranges) =
      ParquetFooters.withFooter(new Path(dir, n), conf) { footer =>
        val blocks = footer.getBlocks.asScala.toSeq
        val envelopes = statsCols.map { c =>
          var lo = Long.MaxValue
          var hi = Long.MinValue
          var seen = false
          blocks.foreach { b =>
            val chunk = b.getColumns.asScala
              .find(_.getPath.toDotString == c)
              .getOrElse(throw FooterBail)
            val st = chunk.getStatistics
            if (st == null) throw FooterBail
            if (st.hasNonNullValue) (st.genericGetMin, st.genericGetMax) match {
              case (mn: java.lang.Number, mx: java.lang.Number) =>
                lo = math.min(lo, mn.longValue)
                hi = math.max(hi, mx.longValue)
                seen = true
              case _ => throw FooterBail
            } else if (!st.isNumNullsSet ||
              st.getNumNulls != chunk.getValueCount)
              throw FooterBail // stats absent, not all-NULL: untrustworthy
          }
          // all-NULL column in this file: no envelope — omit the stat,
          // the reader keeps the file (conservative, as the scan path)
          if (seen) Some(s"$c:$lo:$hi") else None
        }
        (ParquetFooters.rowCount(footer), envelopes)
      }
    val parts = ranges.flatten :+ s"$RowsStat:$rows:$rows"
    n -> parts.mkString("|", "|", "")
  }

  /** Per-table commit mutex (qualified path -> lock). The OCC
    * check-then-rename in [[commit]] is safe cross-process on HDFS
    * (rename refuses an existing target atomically) but not on a local
    * path: there the refusal comes from the classpath — hive-exec's
    * `ProxyLocalFileSystem`, registered for `file:` with Spark's Hive
    * jars, checks for the target before rename(2), which replaces, and
    * Hadoop's own `LocalFileSystem` replaces outright — so two
    * same-version committers could both pass the check and silently
    * lose an update. Serializing the critical section per table CLOSES that
    * race for every writer in this JVM — which
    * on `local[*]` (and any single-driver deployment, the normal
    * manifest-writer topology) is every writer, period; losers surface
    * as [[ConcurrentCommitException]] for [[retryOnConflict]]. Only
    * separate PROCESSES on a local FS remain narrowed-not-closed
    * (the documented corner; HDFS is exact there). */
  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Publish `files` as the next snapshot: write the full manifest to a
    * staged name, then ONE rename to `_manifest.<next>`. Refuses when
    * the table moved past `expectedCurrent` (a concurrent commit) —
    * appends could rebase, but silent rebase under a compact would
    * resurrect compacted files, so both refuse loudly instead. */
  private def commit(spark: SparkSession, path: String,
      files: Seq[String], expectedCurrent: Long,
      txn: Option[String] = None,
      schemaDdl: Option[String] = None,
      op: String = "write",
      constraintsOverride: Option[Seq[(String, String)]] = None): Long = {
    require(txn.forall(t => t.nonEmpty && !t.contains('\n')),
      "txn tag must be non-empty and single-line")
    require(schemaDdl.forall(!_.contains('\n')),
      "schema DDL must be single-line")
    require(op.nonEmpty && !op.contains('\n'),
      "op name must be non-empty and single-line")
    val (fs, p) = fsOf(spark, path)
    fs.mkdirs(p)
    val lock = commitLocks.computeIfAbsent(
      fs.makeQualified(p).toString, _ => new Object)
    lock.synchronized {
      commitLocked(spark, path, fs, p, files, expectedCurrent, txn,
        schemaDdl, op, constraintsOverride)
    }
  }

  private def commitLocked(spark: SparkSession, path: String,
      fs: FileSystem, p: Path, files: Seq[String], expectedCurrent: Long,
      txn: Option[String], schemaDdl: Option[String], op: String,
      constraintsOverride: Option[Seq[(String, String)]]): Long = {
    val snap = latest(spark, path)
    val cur = snap.map(_.version).getOrElse(0L)
    if (cur != expectedCurrent) throw new ConcurrentCommitException(
      s"manifest table $path moved (v$cur, expected v$expectedCurrent) — " +
        "concurrent writer; re-run against the new snapshot")
    // constraints are a TABLE property: every commit carries the current
    // set forward verbatim unless add/dropConstraint overrides it
    val constraints = constraintsOverride
      .getOrElse(snap.map(_.constraints).getOrElse(Nil))
    val next = cur + 1
    val target = new Path(p, s"_manifest.$next")
    def taken = new ConcurrentCommitException(
      s"manifest table $path: $target already exists — concurrent writer")
    if (fs.exists(target)) throw taken
    val header = s"# graft manifest v$next, ${files.size} files\n" +
      s"# op $op\n" +
      txn.map(t => s"# txn $t\n").getOrElse("") +
      schemaDdl.map(s => s"# schema $s\n").getOrElse("") +
      constraints.sortBy(_._1)
        .map { case (n, e) => s"# constraint $n $e\n" }.mkString
    publish(fs, new Path(p, s"_manifest.staged.${stageId()}"), target,
      header + files.sorted.mkString("\n") + "\n", taken,
      s"manifest table $path: could not publish $target")
    next
  }

  /** A fresh random suffix for a staged file name. */
  private def stageId(): String = java.util.UUID.randomUUID.toString.take(12)

  /** THE publish step of manifests and tags: write `text` to the fresh
    * name `staged` (`create` with overwrite off refuses a collision),
    * then ONE rename to `target` — readers see no file or the whole
    * file, and a crash in between leaves only staged debris that
    * [[vacuum]] deletes. A refused rename onto a `target` that now
    * exists lost the race to another writer between the caller's
    * existence check and the rename: it throws `taken`, the caller's
    * own existence refusal (a [[ConcurrentCommitException]] for
    * manifests, so [[retryOnConflict]] retries it). Any other refused
    * rename is `failure`. */
  private def publish(fs: FileSystem, staged: Path, target: Path,
      text: String, taken: => IllegalArgumentException,
      failure: => String): Unit = {
    val out = fs.create(staged, false)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    val published = fs.rename(staged, target)
    if (!published && fs.exists(target)) throw taken
    require(published, failure)
  }
}
