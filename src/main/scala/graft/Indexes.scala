package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Build-once-per-corpus persisted artifacts.
  *
  * A corpus artifact is a table (or a directory of tables) that a 100 TB
  * deployment materializes next to the data once and serves many times:
  * the positional token index, the near-dup component labels, the IVF
  * index, the materialized views, and so on. Each is declared once, as
  * an [[Artifact]] beside the code that builds it in its operator
  * module, and its consumers read `artifact.path(spark, dir)`:
  *
  * {{{
  * private[graft] val TokenIndex = Indexes.Artifact("token-ix") {
  *   (spark, dir, out) => tokenTable(spark, dir).write.parquet(out)
  * }
  * spark.read.parquet(TokenIndex.path(spark, dir))
  * }}}
  *
  * An artifact is built lazily by its first consumer, which is the right
  * default for ad-hoc use but books the build inside whichever query
  * runs first. [[prebuild]] forces every declared artifact for a corpus
  * dir so serve paths are measured (and run) as serve paths; Bench and
  * the benchmark call it untimed, a real pipeline from its ingest job.
  */
object Indexes {

  /** md5 over the sorted `relative path:entry(file)` lines of every
    * regular file under `dir`; "absent" when `dir` is not a directory.
    * The walk is unbounded: a depth cap would silently leave files
    * nested deeper (e.g. multi-column-partitioned parquet) out of the
    * digest — the exact staleness bug the fingerprints close. */
  private def treeDigest(dir: String)(entry: Path => String): String = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) return "absent"
    val stream = Files.walk(root)
    val listing =
      try stream.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => s"${root.relativize(p)}:${entry(p)}").toSeq.sorted
      finally stream.close()
    md5Hex(listing.mkString("\n").getBytes("UTF-8"))
  }

  private def md5Hex(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(bytes)
      .map("%02x".format(_)).mkString

  /** Cheap corpus fingerprint (index staleness): the digest of every
    * file's (relative path, size, mtime). Artifacts key on
    * [[cacheKey]] = `dir#fingerprint`, NOT the bare path, so a corpus
    * whose CONTENT changes under the same path — exactly the
    * daily-crawl shape q_ivf_update / q_incremental_minhash are built
    * for — rebuilds its artifacts instead of being served stale ones
    * silently. Cost per lookup is one directory listing (no data
    * read); at 100 TB the same role is played by the table-format
    * snapshot id, and this is the filesystem stand-in. */
  def fingerprint(dir: String): String =
    treeDigest(dir)(p =>
      s"${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}")

  /** CONTENT fingerprint (the SnapshotCatalog seal): the digest of every
    * file's (relative path, md5 of its bytes). Unlike [[fingerprint]]
    * this reads every byte, so it is immune to both failure modes of
    * the size/mtime listing: an in-place byte mutation preserving size
    * within mtime granularity CHANGES it, and a content-identical
    * restore/copy with fresh mtimes PRESERVES it. Cost is one full read
    * of the dir — right for a publish-time seal (at 100 TB the table
    * format computes per-file checksums DURING the write and stores
    * them in the manifest, which is what this stands in for), wrong for
    * the per-lookup cache key, which keeps the cheap listing. */
  def contentFingerprint(dir: String): String =
    treeDigest(dir)(p => md5Hex(Files.readAllBytes(p)))

  /** Staleness-aware cache key for a corpus dir; see [[fingerprint]]. */
  def cacheKey(dir: String): String = dir + "#" + fingerprint(dir)

  /** One build-once-per-corpus artifact. `build(spark, dir, out)` writes
    * the artifact for corpus `dir` into the fresh directory `out`; a
    * multi-table artifact writes one sub-directory per table.
    *
    * The type owns the whole lifecycle:
    *  - keyed on [[cacheKey]], so a changed corpus rebuilds;
    *  - built at most once per key (`computeIfAbsent`: concurrent first
    *    queries — Verify runs 6-way — share one build);
    *  - `out` is a fresh `Files.createTempDirectory` per (JVM, corpus):
    *    a fixed path would be shared across JVMs (two concurrent runs
    *    race overwrite-vs-read) and predictable to other local users;
    *  - a superseded fingerprint's entry is dropped AND its tree deleted,
    *    so a JVM cycling corpus versions holds one live copy per corpus
    *    and leaks nothing (a reader still holding a lazy plan over the
    *    old tree fails LOUDLY on missing files rather than silently
    *    serving the stale corpus); a failed build deletes its `out`.
    */
  final class Artifact private (val name: String,
      build: (SparkSession, String, String) => Unit) {
    private val paths = new ConcurrentHashMap[String, String]()
    private val nBuilds = new AtomicLong()

    /** Builds of this artifact in this JVM, over every corpus. */
    def builds: Long = nBuilds.get

    /** Live (corpus key → path) entries. */
    private[graft] def entries: Int = paths.size

    /** The artifact's directory for corpus `dir`, built if absent. */
    def path(spark: SparkSession, dir: String): String = {
      val key = cacheKey(dir)
      val out = paths.computeIfAbsent(key, _ => {
        val out = Files.createTempDirectory(s"graft-$name").toFile.getAbsolutePath
        try build(spark, dir, out)
        catch { case e: Throwable => deleteTree(out); throw e }
        nBuilds.incrementAndGet()
        out
      })
      paths.entrySet().removeIf { e =>
        val superseded = e.getKey.startsWith(dir + "#") && e.getKey != key
        if (superseded) deleteTree(e.getValue)
        superseded
      }
      out
    }

    private def deleteTree(p: String): Unit =
      sources.SnapshotCatalog.deleteTree(Paths.get(p))
  }

  object Artifact {
    /** Declare an artifact; see [[Indexes]]. Names are unique: each is
      * also its temp directories' prefix (`graft-<name>…`). */
    def apply(name: String)(
        build: (SparkSession, String, String) => Unit): Artifact = {
      val a = new Artifact(name, build)
      registry.synchronized {
        require(!registry.asScala.exists(_.name == name),
          s"corpus artifact '$name' declared twice")
        registry.add(a)
      }
      a
    }
  }

  private val registry = new ConcurrentLinkedQueue[Artifact]()

  /** Every declared artifact, by name. Scala objects initialize lazily,
    * so an artifact registers only once its module has: naming the
    * declaring modules here initializes them, and the set does not
    * depend on which of them this JVM happened to touch first. */
  def declared: Seq[Artifact] = {
    Seq(operators.TextAnalysis, operators.Dedup, operators.Similarity,
      operators.Ranking, operators.Profiling, operators.GraphOps,
      operators.Analytics, operators.OlapQueries, operators.Multimodal,
      streaming.DedupStream)
    registry.asScala.toSeq.sortBy(_.name)
  }

  def prebuild(spark: SparkSession, dir: String): Unit =
    declared.foreach(_.path(spark, dir))
}
