package graft.operators

import graft.functions.Portable
import org.apache.spark.sql.SparkSession

/** Per-JVM staging for BUILD-ONCE persisted index roots — shared by
  * the ANN seats (PQ / IVF-PQ / lifecycle, [[Similarity]]) and the
  * dedup band-key index ([[Dedup]]'s `dedup_incremental` seat). The
  * driver's query contract is stateless (every invocation must return
  * the same rows), so a persisted index can only be harness-side
  * scaffolding: built once per (corpus, JVM), served read-only, and
  * swept at JVM exit. The root key encodes
  *  - md5(corpus dir) — two sf dirs never share a root;
  *  - a content FINGERPRINT of the backing table (file count, total
  *    bytes and newest file mtime — r12 advice: a fixture dir
  *    REWRITTEN within one application must rebuild, never silently
  *    reuse a stale index, without paying a data scan for the check;
  *    the mtime catches a rewrite that keeps the byte size);
  *  - the Spark application id — two JVMs on the same dir (Verify and
  *    Bench overlapping) never race on a shared index (r11 advice).
  * Queries run sequentially in Verify, Bench, and the test suite, so
  * each root is single-writer within its JVM by construction. */
private[graft] object Staging {

  /** Staged roots deleted at JVM exit (plain java.nio, not Hadoop —
    * the FileSystem cache has its own shutdown hook and may already be
    * closed when ours runs). Registered once; the set is concurrent
    * because Spark tests share one JVM. */
  private val stagedRoots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val cleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      stagedRoots.forEach { r =>
        def rm(p: java.io.File): Unit = {
          Option(p.listFiles()).foreach(_.foreach(rm)); p.delete(); ()
        }
        try rm(new java.io.File(r)) catch { case _: Exception => }
      }))
  private def cleanupAtExit(root: String): Unit = {
    cleanupHook
    stagedRoots.add(root); ()
  }

  /** Cheap content fingerprint of the corpus behind a staged root:
    * file count, total bytes and newest modification time of the
    * files under `dir/table` (one recursive listing, no data read). */
  private def corpusFingerprint(spark: SparkSession, dir: String, table: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$table")
    val listing = p.getFileSystem(spark.sessionState.newHadoopConf()).listFiles(p, true)
    val files = Iterator.continually(listing).takeWhile(_.hasNext).map(_.next()).toSeq
    val newest = files.map(_.getModificationTime).foldLeft(0L)(math.max)
    Portable.md5Hex(s"${files.size}_${files.map(_.getLen).sum}_$newest").take(8)
  }

  /** Minimum usable space for auto-selecting a tmpfs scratch base.
    * Containers commonly mount /dev/shm at its 64 MB default, and the
    * staged roots accumulate until JVM exit (every ANN index + the
    * dedup band index + the decide table), so a writable-but-tiny shm
    * would ENOSPC mid-sweep where /tmp kept working — and tmpfs pages
    * compete with the JVM heap for RAM, so a nearly-full one is a
    * liability even before the write fails (r15 advice). 2 GiB covers
    * the quantized-corpus-sized indexes at the 100× sweep scale with
    * headroom. */
  private val MinScratchBytes = 2L << 30

  /** Scratch base for staged roots: a RAM-backed tmpfs when one
    * exists WITH space (r14 verdict task 5 — the lifecycle seat's
    * copy/append/compact cycle is fs-bound, and /tmp-on-disk
    * page-cache state made same-code runs oscillate 4.4-5.6 s; index
    * scratch is per-JVM throwaway, exactly what tmpfs is for), else
    * /tmp. SPARK_GRAFT_STAGING_DIR overrides on boxes where neither
    * default fits. */
  private lazy val scratchBase: String =
    sys.env.get("SPARK_GRAFT_STAGING_DIR")
      .orElse(Seq("/dev/shm").find(p => {
        val f = new java.io.File(p)
        f.isDirectory && f.canWrite && f.getUsableSpace >= MinScratchBytes
      }))
      .getOrElse("/tmp")

  /** The staged-root key WITHOUT a filesystem location — for per-JVM
    * in-MEMORY memos of small deterministic build products (e.g. the
    * PCA family's dims²-bounded covariance): same rebuild-on-rewrite
    * and no-cross-JVM-sharing semantics as a staged root, no disk. */
  def memoKey(spark: SparkSession, dir: String, kind: String, table: String): String =
    s"${kind}_" + Portable.md5Hex(dir).take(12) +
      "_" + corpusFingerprint(spark, dir, table) + "_" + spark.sparkContext.applicationId

  /** Scratch root for a per-JVM staged index over `dir`'s `table`,
    * keyed as documented on the object, registered for deletion at
    * JVM exit. */
  def stagedRoot(spark: SparkSession, dir: String, kind: String, table: String): String = {
    val root = s"$scratchBase/graft_ann_${kind}_" + Portable.md5Hex(dir).take(12) +
      "_" + corpusFingerprint(spark, dir, table) + "_" + spark.sparkContext.applicationId
    cleanupAtExit(root)
    root
  }

  /** Copy a staged directory tree by HARDLINK where the fs allows it
    * (r16, the lifecycle seat's base→work copy): parquet part files
    * are immutable — maintenance only ADDS files and rewrite-and-swaps
    * (unlink, never in-place mutation) — so a linked tree can never
    * corrupt its source, while the link walk is O(|files|) metadata
    * ops instead of a byte copy of the whole index. Falls back to the
    * Hadoop byte copy per file (cross-device links) or for the whole
    * tree (non-local source/destination). */
  def linkOrCopyTree(fs: org.apache.hadoop.fs.FileSystem,
      src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    val local = fs.getScheme == "file"
    if (!local) {
      org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, conf)
      return
    }
    def walk(s: java.io.File, d: java.io.File): Unit = {
      if (s.isDirectory) {
        if (!d.mkdirs() && !d.isDirectory)
          throw new java.io.IOException(s"could not create $d")
        Option(s.listFiles()).foreach(_.foreach(c => walk(c, new java.io.File(d, c.getName))))
      } else {
        try java.nio.file.Files.createLink(d.toPath, s.toPath)
        catch { case _: java.io.IOException => // cross-device or fs without links
          org.apache.hadoop.fs.FileUtil.copy(fs,
            new org.apache.hadoop.fs.Path(s.getAbsolutePath), fs,
            new org.apache.hadoop.fs.Path(d.getAbsolutePath), false, conf); ()
        }
      }
    }
    walk(new java.io.File(src.toUri.getPath), new java.io.File(dst.toUri.getPath))
  }

  /** Build-once guard for a staged root: `build` runs only when the
    * `_built` marker is absent (a markerless root is half-built debris
    * from a died build and is cleared first). */
  def ensureBuilt(spark: SparkSession, root: String)(build: String => Unit): String = {
    val conf = spark.sessionState.newHadoopConf()
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(conf)
    val built = new org.apache.hadoop.fs.Path(s"$root/_built")
    if (!fs.exists(built)) {
      fs.delete(rootPath, true)
      build(root)
      fs.create(built, true).close()
    }
    root
  }
}
