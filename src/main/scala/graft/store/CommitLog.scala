package graft.store

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.types.DataType

/** The one commit and read point of every stateful path: the fold state
  * dirs of [[graft.operators.MarketIncremental]] and the CUSUM fold, the
  * drift reference, the MinHash/containment indexes and the IVF-PQ index.
  * Modelled on the commit log of Structured Streaming and Spark's
  * `HDFSMetadataLog`.
  *
  * Layout under `root`:
  *   - `_commits/<id>` — one marker per committed batch. Data written
  *     for an id stays invisible until its marker exists, so a crash
  *     between writes exposes nothing. A compaction's marker (`c<n>`,
  *     the compactor's reserved id namespace) lists in its body the ids
  *     it supersedes, transitively; ordinary markers are empty. A marker
  *     with a body is written as `.<id>.tmp`, which [[read]] ignores,
  *     and renamed into place, so no marker is ever seen without it.
  *   - `<table>/batch=<id>/` — a batch's data in each table it writes.
  *   - `v=<id>/` — versioned fold state ([[fold]]).
  *
  * The commit is an exclusive create (or, for a marker with a body, a
  * rename onto a free name): of two writers of one id exactly one
  * commits. Within a JVM that holds on any file system (writers of one
  * root serialize on a lock); across processes it holds where the file
  * system's exclusive create and rename are atomic (HDFS, whose rename
  * refuses an existing target), and the local file system checks then
  * creates. */
final class CommitLog(val fs: FileSystem, val root: String) {
  private val dir = new Path(s"$root/_commits")
  private val lock = CommitLog.lockFor(fs.makeQualified(dir).toString)

  /** The log as one listing of `_commits/`; only compactor markers
    * (`c*`) are opened for their bodies. */
  def read(): CommitLog.Snapshot =
    if (!fs.exists(dir)) CommitLog.Snapshot(Map.empty)
    else CommitLog.Snapshot(fs.listStatus(dir)
      .filter(st => st.isFile && !CommitLog.isTemp(st.getPath)).map { st =>
      val name = st.getPath.getName
      val body =
        if (!name.startsWith("c")) ""
        else {
          val in = fs.open(st.getPath)
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        }
      name -> body.split("\n").map(_.trim).filter(_.nonEmpty).toSeq
    }.toMap)

  /** Commit `id`, recording the ids it `supersedes` in the marker body.
    * Returns false when `id` was already committed (another writer won). */
  def commit(id: String, supersedes: Seq[String] = Seq.empty): Boolean =
    lock.synchronized {
      val marker = new Path(dir, id)
      if (supersedes.isEmpty)
        try { fs.create(marker, false).close(); true }
        catch { case _: FileAlreadyExistsException => false }
      else !fs.exists(marker) && {
        val tmp = new Path(dir, s".$id.tmp")
        val out = fs.create(tmp, true)
        try out.write(supersedes.mkString("\n").getBytes("UTF-8")) finally out.close()
        fs.rename(tmp, marker) || { fs.delete(tmp, false); false }
      }
    }

  /** Drop every marker, e.g. before an index is rebuilt from scratch. */
  def clear(): Unit = fs.delete(dir, true)

  /** `root/<table>/batch=<id>` for each of `ids` present on disk, in
    * `ids` order — one listing of the table, whatever the batch count. */
  private def batchDirs(table: String, ids: Seq[String]): Seq[String] = {
    val t = new Path(s"$root/$table")
    val present =
      if (!fs.exists(t)) Set.empty[String]
      else fs.listStatus(t).map(_.getPath.getName.stripPrefix("batch=")).toSet
    ids.filter(present).map(id => s"$root/$table/batch=$id")
  }

  /** The batches `ids` of `table` (default: the committed ones) as one
    * scan with `empty`'s schema; `empty` when none is on disk. Their dirs
    * are its roots, so a torn or superseded dir is never listed; the
    * table is its base path, so nested partitions (`band=`, `cell=`) of
    * every batch resolve alike and stay prunable. */
  def scan(table: String, empty: DataFrame, ids: Seq[String] = read().committed): DataFrame = {
    val dirs = batchDirs(table, ids)
    if (dirs.isEmpty) empty else batches(empty.sparkSession.read.schema(empty.schema), table, dirs)
  }

  private def batches(reader: DataFrameReader, table: String, dirs: Seq[String]): DataFrame =
    reader.option("basePath", s"$root/$table").parquet(dirs: _*).drop("batch")

  /** `column`'s type as written in the batches `ids` of `table` (one
    * schema read; `None` when none is on disk): a declared id column
    * takes the writer's type. */
  def writtenType(spark: SparkSession, table: String, column: String,
                  ids: Seq[String]): Option[DataType] =
    Some(batchDirs(table, ids)).filter(_.nonEmpty)
      .map(batches(spark.read, table, _).schema(column).dataType)

  /** Part `part` of fold state version `v` (`v=<v>/<part>`), read with
    * the schema `empty` declares; `empty` before the first commit. */
  def state(v: Option[Long], part: String, empty: DataFrame): DataFrame =
    v.fold(empty)(v =>
      empty.sparkSession.read.schema(empty.schema).parquet(s"$root/v=$v/$part"))

  private def deleteBatch(tables: Seq[String], id: String): Unit =
    tables.foreach(t => fs.delete(new Path(s"$root/$t/batch=$id"), true))

  /** Append one batch to `tables`: resolve the id (`batchId`, or the next
    * numeric id when empty), skip a replay (false), clear a torn earlier
    * attempt's data, `write(id)`, commit. */
  def append(batchId: String, tables: Seq[String])(write: String => Unit): Boolean = {
    val log = read()
    val id = if (batchId.nonEmpty) batchId else log.nextId
    require(id.matches(CommitLog.IdPattern), s"unsafe index batch id: $id")
    // the compactor's orphan sweep deletes any uncommitted c* directory,
    // which must never be a live append
    require(!id.startsWith("c"),
      s"batch ids starting with 'c' are reserved for the compactor: $id")
    if (log.done(id)) {
      graft.metrics.Metrics.counter("commitlog_replay_skips_total").increment()
      return false
    }
    deleteBatch(tables, id)
    write(id)
    commit(id)
  }

  /** Consolidate every committed batch of `tables` into one new batch
    * `c<n>`: `write(c<n>, committed)` lands the data invisibly, the
    * marker naming the replaced ids flips visibility in one create, then
    * the replaced markers and data are collected. A crash at any step
    * double-counts nothing; the next run clears its leftovers. Safe
    * beside a live appender (a batch committed mid-compaction waits for
    * the next round); one compactor at a time. Returns the number of
    * batches consolidated (0 = nothing to do). */
  def compact(tables: Seq[String])(write: (String, Seq[String]) => Unit): Int = {
    val log = read()
    // resume a crashed GC: superseded ids are invisible already
    log.superseded.foreach { id =>
      fs.delete(new Path(dir, id), false)
      deleteBatch(tables, id)
    }
    val committed = log.committed
    if (committed.size <= 1) return 0
    // a crashed compactor's leftovers: a marker body never renamed into
    // place, data written without a marker
    fs.listStatus(dir).filter(st => CommitLog.isTemp(st.getPath))
      .foreach(st => fs.delete(st.getPath, false))
    for (t <- tables; p = new Path(s"$root/$t") if fs.exists(p);
         st <- fs.listStatus(p) if st.isDirectory;
         id = st.getPath.getName.stripPrefix("batch=")
         if id.startsWith("c") && !log.markers.contains(id))
      fs.delete(st.getPath, true)
    val cid = log.nextCompactionId
    write(cid, committed)
    // transitive: carry forward what the consolidated batches superseded,
    // or their append replays would re-ingest after a second compaction
    val supersedes =
      (committed ++ committed.flatMap(log.markers.getOrElse(_, Seq.empty))).distinct
    require(commit(cid, supersedes), s"concurrent compaction committed $cid at $root")
    committed.foreach { id =>
      fs.delete(new Path(dir, id), false)
      deleteBatch(tables, id)
    }
    committed.size
  }

  /** The lifecycle of a versioned fold body, for batch `batchId`: replay
    * check, `write(prev)` of the fold's log slices and its `v=<batchId>/`
    * state (`prev` reads the latest committed version's [[state]]),
    * commit, keep-two `v=<id>` GC, then `view(committed versions)`. A
    * replayed id, or one another writer commits first, returns the
    * committed view unchanged. Writers of one root serialize, so a second
    * writer of the same id never overwrites state the first committed. */
  def fold(batchId: Long)(write: ((String, DataFrame) => DataFrame) => Unit)
      (view: Seq[Long] => DataFrame): DataFrame = lock.synchronized {
    val done = read().versions
    if (done.contains(batchId)) return view(done)
    write(state(done.lastOption, _, _))
    if (!commit(batchId.toString)) return view(read().versions)
    // the committed predecessor survives for rollback; logs are permanent
    done.dropRight(1).foreach(v => fs.delete(new Path(s"$root/v=$v"), true))
    view((done :+ batchId).sorted)
  }
}

object CommitLog {
  val IdPattern = "[A-Za-z0-9_-]+"

  private def isTemp(p: Path): Boolean = p.getName.startsWith(".")

  def apply(spark: SparkSession, root: String): CommitLog =
    new CommitLog(new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration), root)

  private val locks = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
  private def lockFor(key: String): AnyRef = locks.computeIfAbsent(key, _ => new Object)

  /** One read of the log: every marker with the ids its body supersedes. */
  final case class Snapshot(markers: Map[String, Seq[String]]) {
    val superseded: Set[String] = markers.values.flatten.toSet
    /** Visible ids: markers minus the ids they transitively supersede,
      * numeric ids first in numeric order. */
    val committed: Seq[String] = markers.keys.filterNot(superseded).toSeq
      .sortBy(id => (id.toLongOption.getOrElse(Long.MaxValue), id))
    /** Versioned fold state: committed ids, numerically ordered. */
    def versions: Seq[Long] = committed.map(_.toLong).sorted
    /** A replay: committed, or committed then consolidated. */
    def done(id: String): Boolean = markers.contains(id) || superseded(id)
    /** Next auto id, counted over every id ever seen — a compacted-away
      * id must never be reused (it would skip as a replay). */
    def nextId: String = nextNumber(markers.keys ++ superseded, "").toString
    def nextCompactionId: String =
      "c" + nextNumber((markers.keys ++ superseded).filter(_.startsWith("c")), "c")
    private def nextNumber(ids: Iterable[String], prefix: String): Long =
      ids.flatMap(s => s.stripPrefix(prefix).toLongOption).maxOption.getOrElse(-1L) + 1L
  }
}
