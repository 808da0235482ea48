package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** TIME-TRAVEL READ SEAM — the versioned-snapshot catalog the engine's
  * change-capture surface was missing a READ side for: snapshot diff,
  * CDC apply, IVM and compaction planning all reason about versions,
  * but until now the two versions were derived in-plan. This catalog
  * persists each published version as parquet under
  * `<root>/v<version>/` plus a `<root>/_versions/<version>.meta` file
  * recording the snapshot dir's content fingerprint
  * ([[graft.Indexes.fingerprint]]), and `readAsOf` resolves a version
  * number to its dir — REFUSING loudly if the dir's current
  * fingerprint no longer matches the one recorded at publish time
  * (a mutated snapshot served silently is the staleness bug the
  * fingerprint mechanism exists to prevent).
  *
  * This is the filesystem stand-in for a table format's snapshot log
  * (the role Iceberg/Delta metadata plays at 100 TB): version ids are
  * allocated with the same atomic CREATE_NEW claim loop as the schema
  * registry, so concurrent publishers never collide, and a read is
  * one meta-file read + one directory listing before the parquet scan
  * — no data touched until the scan itself.
  */
object SnapshotCatalog {

  private def metaDir(root: String) = Paths.get(root, "_versions")
  private def metaPath(root: String, v: Int) =
    metaDir(root).resolve(s"$v.meta")

  /** The snapshot directory a version number names. */
  def snapshotDir(root: String, v: Int): String =
    Paths.get(root, s"v$v").toString

  /** Every claimed version id, sealed or not — the id allocator must
    * see in-flight claims so it never re-claims one. */
  private def allClaims(root: String): Seq[Int] = {
    val d = metaDir(root)
    if (!Files.isDirectory(d)) return Seq.empty
    val stream = Files.list(d)
    try stream.iterator().asScala
      .map(_.getFileName.toString)
      .filter(_.endsWith(".meta"))
      .map(_.stripSuffix(".meta").toInt)
      .toSeq.sorted
    finally stream.close()
  }

  /** Marker a retired version's meta is atomically rewritten to: the
    * claim file STAYS (the id allocator must never re-mint an expired
    * id — a reader holding the old number would silently read NEW data
    * under it) but readers refuse it by name. */
  private val Expired = "EXPIRED"

  /** SEALED, still-retained versions only, ascending — an in-flight or
    * aborted publish (empty meta) and an expired version are invisible
    * to readers, so `latest` never names a version [[readAsOf]] is
    * guaranteed to refuse. */
  def versions(root: String): Seq[Int] =
    allClaims(root).filter { v =>
      val m = Files.readString(metaPath(root, v))
      m.nonEmpty && m != Expired
    }

  def latest(root: String): Option[Int] = versions(root).lastOption

  /** Publish `df` as the next snapshot version: claim the version id
    * atomically (CREATE_NEW on the meta file — concurrent publishers
    * retry at the next id, never overwrite), write the parquet, then
    * seal the meta with the written dir's content fingerprint. A meta
    * whose fingerprint is still empty marks an in-flight or aborted
    * publish; [[readAsOf]] refuses it. */
  def publish(df: DataFrame, root: String): Int = {
    Files.createDirectories(metaDir(root))
    var v = allClaims(root).lastOption.getOrElse(0) + 1
    var claimed = false
    while (!claimed) {
      try {
        Files.createFile(metaPath(root, v)) // atomic claim
        claimed = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => v += 1
      }
    }
    val dir = snapshotDir(root, v)
    df.write.mode("overwrite").parquet(dir)
    // CONTENT hash seal (r14 advice): the size/mtime listing let an
    // in-place byte mutation within mtime granularity pass and falsely
    // refused a content-identical restore with fresh mtimes. The
    // publisher just wrote these bytes, so the extra read is the
    // publish-time checksum a table-format manifest records anyway.
    Files.writeString(metaPath(root, v),
      graft.Indexes.contentFingerprint(dir))
    v
  }

  /** Read the snapshot a version number names, verifying the dir's
    * CURRENT content fingerprint against the one sealed at publish
    * time — a mutated/partial snapshot refuses instead of serving. */
  def readAsOf(spark: SparkSession, root: String, v: Int): DataFrame = {
    val meta = metaPath(root, v)
    require(Files.exists(meta),
      s"snapshot catalog: unknown version $v under $root " +
        s"(claimed: ${allClaims(root).mkString(", ")})")
    val sealedFp = Files.readString(meta)
    require(sealedFp.nonEmpty,
      s"snapshot catalog: version $v under $root is an in-flight or " +
        "aborted publish (empty meta) — refusing to read")
    require(sealedFp != Expired,
      s"snapshot catalog: version $v under $root is EXPIRED " +
        s"(retained: ${versions(root).mkString(", ")}) — refusing to read")
    val dir = snapshotDir(root, v)
    val current = graft.Indexes.contentFingerprint(dir)
    require(current == sealedFp,
      s"snapshot catalog: version $v under $root changed on disk since " +
        s"publish (sealed $sealedFp, current $current) — refusing to " +
        "serve a mutated snapshot")
    spark.read.parquet(dir)
  }

  /** SNAPSHOT RETENTION — the third lakehouse maintenance face beside
    * CDC-apply and compaction planning: retire every sealed version
    * except the newest `keepLast`, reclaiming their data dirs. Order
    * matters for the concurrent-reader contract: the meta is first
    * atomically rewritten to the [[Expired]] tombstone (temp file +
    * ATOMIC_MOVE — a reader resolving the meta sees either the intact
    * seal or the tombstone refusal, never a torn file), THEN the data
    * dir is removed; a reader that resolved the seal just before the
    * tombstone landed either finishes its scan (dir not yet gone) or
    * fails loudly on missing files — never silently reads wrong data.
    * The claim file itself stays forever so the id allocator can never
    * re-mint an expired id. Returns the expired version ids. */
  def expire(root: String, keepLast: Int): Seq[Int] = {
    require(keepLast >= 1, s"snapshot catalog: keepLast must be >= 1")
    val sealedVs = versions(root)
    val toExpire = sealedVs.dropRight(keepLast)
    toExpire.foreach { v =>
      val meta = metaPath(root, v)
      val tmp = Files.createTempFile(metaDir(root), s".$v.", ".tmp")
      Files.writeString(tmp, Expired)
      Files.move(tmp, meta,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      deleteTree(Paths.get(snapshotDir(root, v)))
    }
    toExpire
  }

  /** Recursive delete (children before parents); shared by [[expire]]
    * and the superseded-artifact cleanup in Indexes.Artifact.
    * Tolerates a CONCURRENT deleter (two threads evicting the same
    * stale cache entry): a file vanishing mid-walk is the other
    * deleter finishing our job, not an error — `deleteIfExists` covers
    * the delete side, and the walk itself retries once on the
    * vanished-entry exceptions before giving up silently (cleanup is
    * best-effort by contract; the artifact is already unreachable). */
  private[graft] def deleteTree(p: java.nio.file.Path): Unit = {
    def once(): Unit = {
      if (!Files.exists(p)) return
      val stream = Files.walk(p)
      try
        stream.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(Files.deleteIfExists(_))
      finally stream.close()
    }
    try once()
    catch {
      // Any non-fatal failure (vanished entries from a concurrent
      // deleter, AccessDenied on an undeletable file, transient IO):
      // retry once, then give up — cleanup must never crash the serving
      // query whose artifact built fine. Fatal errors still propagate.
      case scala.util.control.NonFatal(_) =>
        try once()
        catch { case scala.util.control.NonFatal(_) => () }
    }
  }
}
