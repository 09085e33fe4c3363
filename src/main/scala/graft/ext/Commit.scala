package graft.ext

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** The commit primitive: every crash-safe publish in this library
  * reduces to ONE operation — make a small control file (a manifest,
  * a checkpoint) visible at a destination all-or-nothing, failing
  * cleanly if the destination already exists. The path scheme decides
  * how that is done safely on the storage underneath:
  *
  *   - `file://` (or no scheme): the content is written to a
  *     uniquely-named sibling and hard-linked into place — `link(2)`
  *     is atomic and fails on an existing destination, so a reader
  *     sees no manifest or the whole manifest, and two racing writers
  *     cannot both win.
  *   - Object stores (s3a/gs/abfs/…; S3/MinIO is the substrate the
  *     reference runs on, ref: mnt/spark-conf/spark-defaults.conf:4-10):
  *     `fs.create(dst, overwrite = false)` + close is ONE whole-object
  *     conditional PUT (`If-None-Match: *`), so the name claim and the
  *     content publish are the same atomic step. Rename there is
  *     COPY+DELETE and is never used.
  *   - Anything else (HDFS above all): create-no-overwrite would claim
  *     the name atomically but stream the content afterwards, leaving
  *     a visible partial manifest after a crash, so the content is
  *     staged beside the destination and renamed into place — HDFS
  *     rename is atomic and fails on an existing destination.
  *
  * This is the storage split Delta's LogStore exists to solve
  * (HDFSLogStore renames, conditional-put stores create). Data files
  * never need the primitive: they are written ONCE into uniquely-named
  * immutable locations and become visible only when a control file
  * referencing them commits ([[graft.ext.Versioned]]'s layout). Only
  * the pointer flip must be atomic.
  */
private[graft] object Commit {

  private val wholeObjectPutSchemes =
    Set("s3a", "s3n", "s3", "gs", "abfs", "abfss", "wasb", "wasbs", "oss", "cos")

  /** Publish `content` at `dst` all-or-nothing iff `dst` is absent.
    * Returns true when this call committed; false when the claim was
    * lost (dst already exists — a concurrent writer won). Readers
    * never observe a partial `dst`. */
  def putIfAbsent(fs: FileSystem, dst: Path, content: Array[Byte]): Boolean = {
    val scheme = Option(dst.toUri.getScheme).getOrElse(
      fs.getUri.getScheme)
    if (scheme == "file" || scheme == null) putIfAbsentLocal(dst, content)
    else if (wholeObjectPutSchemes.contains(scheme)) {
      val out =
        try fs.create(dst, false)
        catch {
          // only a LOST CLAIM maps to false; genuine IO failures
          // (permissions, quota, connectivity) must surface, not be
          // masked as "committed concurrently"
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => return false
          case _: java.nio.file.FileAlreadyExistsException        => return false
        }
      try out.write(content)
      finally out.close()
      true
    } else renameIfAbsent(fs, dst, content)
  }

  private def putIfAbsentLocal(dst: Path, content: Array[Byte]): Boolean = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val target = Paths.get(dst.toUri.getPath)
    Files.createDirectories(target.getParent)
    val tmp = Files.createTempFile(target.getParent, s".put-${dst.getName}", ".tmp")
    try {
      Files.write(tmp, content)
      try { Files.createLink(target, tmp); true }
      catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: UnsupportedOperationException =>
          // no hardlinks on this FS: degrade to claim-then-move
          // (best-effort: check→move is two steps)
          if (Files.exists(target)) false
          else { Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE); true }
      }
    } finally Files.deleteIfExists(tmp)
  }

  /** The HDFS fallback: stage beside the destination, then rename into
    * place. The rename IS the commit, and rename-to-existing fails, so
    * it doubles as the claim check. The explicit `exists` pre-check
    * guards filesystems whose rename replaces (best-effort: two steps). */
  private def renameIfAbsent(fs: FileSystem, dst: Path, content: Array[Byte]): Boolean = {
    // staging name must NOT share dst's extension: a directory lister
    // keyed on the suffix (Versioned.versions() matches *.manifest)
    // would otherwise see the in-flight stage — or, after a crash
    // mid-commit, a permanent stray — as a (malformed) committed name.
    // And it must be unique PER ATTEMPT: two writers racing the same
    // destination with a shared staging name would truncate each
    // other's half-written stage.
    val nonce = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val tmp = new Path(dst.getParent, s".tmp-${dst.getName}.$nonce.staging")
    val out = fs.create(tmp, true)
    try out.write(content)
    finally out.close()
    if (fs.exists(dst) || !fs.rename(tmp, dst)) {
      fs.delete(tmp, false)
      false
    } else true
  }
}

/** How a live, mutable table is stored, resolved, and atomically
  * replaced — the seam between "what the rewrite computes" (upsert,
  * compaction, MV refresh) and "how the new state becomes visible".
  *
  *   - [[SwapStore]]: the table IS a directory; replace = sibling-tmp
  *     write + directory rename swap. Fast, zero indirection, crash
  *     windows closed by [[graft.gold.Upsert.recoverSwap]] — but the
  *     swap is a local directory rename, so it serves `file:` and
  *     scheme-less paths only and refuses any other scheme up front.
  *     The default, matching every existing call site.
  *   - [[ManifestStore]]: the table is a POINTER — immutable
  *     uniquely-named data dirs published by a single manifest-file
  *     commit through [[Commit.putIfAbsent]]
  *     ([[graft.ext.Versioned]]'s layout). This is the
  *     object-store-safe story: no rename on an object-store path, a
  *     crash before the manifest commit leaves only an invisible
  *     orphan dir (reclaimed by
  *     [[Versioned.pruneVersions]]), and there is NO window in which
  *     the live table is missing or partial. Reads resolve the
  *     newest manifest — one small-file read of indirection, the
  *     price Delta's log pays too.
  */
sealed trait TableStore {
  def exists(spark: SparkSession, path: String): Boolean
  /** Resolve the current live state. */
  def readLive(spark: SparkSession, path: String): DataFrame
  /** Repair any interrupted publish. Safe to call any time. */
  def recover(spark: SparkSession, path: String): Unit
  /** Crash-safely replace (or bootstrap) the table: `write` receives
    * a scratch location and must produce the complete new state
    * there; reading the CURRENT live state inside `write` is safe —
    * nothing has moved yet. */
  def rewrite(spark: SparkSession, path: String)(write: String => Unit): Unit

  /** (path, bytes) of every parquet file in the CURRENT live state —
    * for a manifest store that is the newest version's file set, not
    * everything on disk (older versions' immutable files coexist
    * until pruned). */
  def liveFiles(spark: SparkSession, path: String): Seq[(String, Long)]
}

private[ext] object CommitFiles {
  def parquetUnder(spark: SparkSession, roots: Seq[String]): Seq[(String, Long)] =
    roots.flatMap { r =>
      val hPath = new Path(r)
      val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(fs.exists(hPath), s"no table at $r")
      val it = fs.listFiles(hPath, true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) buf += ((f.getPath.toString, f.getLen))
      }
      buf.toSeq
    }
}

object SwapStore extends TableStore {
  def exists(spark: SparkSession, path: String): Boolean =
    java.nio.file.Files.exists(graft.gold.Upsert.localDir(path))

  def readLive(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  def recover(spark: SparkSession, path: String): Unit =
    graft.gold.Upsert.recoverSwap(path)

  def liveFiles(spark: SparkSession, path: String): Seq[(String, Long)] =
    CommitFiles.parquetUnder(spark, Seq(path))

  def rewrite(spark: SparkSession, path: String)(write: String => Unit): Unit =
    graft.gold.Upsert.atomicRewrite(path)(write)
}

object ManifestStore extends TableStore {
  def exists(spark: SparkSession, path: String): Boolean =
    Versioned.latestVersion(spark, path).nonEmpty

  def readLive(spark: SparkSession, path: String): DataFrame =
    Versioned.readLatest(spark, path)

  /** Nothing to repair: an uncommitted data dir is invisible to every
    * reader (no manifest references it) and the next write of that
    * version clears it; [[Versioned.pruneVersions]] reclaims old
    * orphans. That no-op recovery is the point of the layout. */
  def recover(spark: SparkSession, path: String): Unit = ()

  def rewrite(spark: SparkSession, path: String)(write: String => Unit): Unit = {
    Versioned.writeVersionWith(spark, path)(write)
    ()
  }

  def liveFiles(spark: SparkSession, path: String): Seq[(String, Long)] =
    Versioned.liveFiles(spark, path)
}
