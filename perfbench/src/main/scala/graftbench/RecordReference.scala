package graftbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Measures the registry's strata and records the `registry` workload's
  * subset and reference fingerprints:
  *
  *   graftbench.RecordReference <data dir> <work dir> <out dir>
  *
  * 1. At the workload's core count, after a warm pass, every registered
  *    query runs once (build call, then the `noop` sink). Its stratum is
  *    (jobs launched inside the build call: <=1 | >=2) x (quartile of its
  *    wall time over every query that ran).
  * 2. In each stratum the first `tries` queries in md5-of-name order, and
  *    the reference surface, are fingerprinted twice at that core count
  *    and twice at 4 cores, each core count on its own copy of the data
  *    (so indexes are rebuilt). A query is stable when all four agree.
  * 3. Each stratum's first stable query in md5 order is its pick.
  *
  * Writes `registry_strata.tsv` (every query: build jobs, wall, stratum,
  * md5 rank, stability, pick) and `registry_reference.tsv` (the
  * fingerprints of the subset) to the out dir; both belong in
  * src/main/resources.
  */
object RecordReference {
  val tries = 4

  final case class Measured(name: String, buildJobs: Long, wallMs: Double)

  def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  def copyData(data: String, dir: Path): String = {
    Files.createDirectories(dir)
    new java.io.File(data).listFiles().foreach(f =>
      Files.copy(f.toPath, dir.resolve(f.getName)))
    dir.toString
  }

  def fingerprints(spark: SparkSession, dir: String, names: Seq[String]): Seq[(String, String)] =
    for (_ <- 1 to 2; n <- names) yield n ->
      (try RegistryWorkload.fingerprint(graft.SparkEntry.queries(n)(spark, dir))
       catch { case e: Throwable => s"error ${e.getMessage}" })

  def measure(spark: SparkSession, dir: String): Seq[Measured] = {
    val queries = graft.SparkEntry.queries
    val names = queries.keys.toSeq.sorted
    val jobs = new AtomicLong()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
    def runOne(n: String): Option[Measured] = try {
      val t0 = System.nanoTime()
      val j0 = jobs.get()
      val df = queries(n)(spark, dir)
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val buildJobs = jobs.get() - j0
      RegistryWorkload.noop(df)
      Some(Measured(n, buildJobs, Stats.secondsSince(t0) * 1000))
    } catch { case e: Throwable =>
      System.err.println(s"[reference] $n failed: ${e.getMessage}"); None }
    names.foreach(runOne)
    names.flatMap(runOne)
  }

  def main(args: Array[String]): Unit = {
    val Array(data, work, out) = args
    val cores = RegistryWorkload.cores
    val spark = RegistryWorkload.session(cores)
    val dirA = copyData(data, Paths.get(work, s"data-$cores"))
    graft.Indexes.prebuild(spark, dirA)
    val ms = measure(spark, dirA)
    val walls = ms.map(_.wallMs)
    val bounds = Seq(0.25, 0.5, 0.75).map(Stats.quantile(walls, _))
    def stratum(m: Measured): String =
      (if (m.buildJobs >= 2) "jobs>=2" else "jobs<=1") +
        s"/q${1 + bounds.count(m.wallMs > _)}"
    val byStratum = ms.groupBy(stratum).map { case (s, xs) =>
      s -> xs.sortBy(m => md5(m.name)) }
    val candidates = byStratum.values.flatMap(_.take(tries).map(_.name)).toSeq ++
      RegistryWorkload.referenceSurface
    val fpA = fingerprints(spark, dirA, candidates)
    spark.stop()
    val spark4 = RegistryWorkload.session("4")
    val dirB = copyData(data, Paths.get(work, "data-4"))
    graft.Indexes.prebuild(spark4, dirB)
    val fpB = fingerprints(spark4, dirB, candidates)
    spark4.stop()
    val fp = (fpA ++ fpB).groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).distinct }
    def stable(n: String): Boolean = fp.get(n).exists(f => f.size == 1 && !f.head.startsWith("error"))
    val picks = byStratum.map { case (s, xs) =>
      s -> xs.find(m => stable(m.name)).map(_.name).getOrElse(sys.error(s"no stable query in $s"))
    }
    val picked = picks.values.toSet

    val strata = new StringBuilder
    strata ++= s"# Registry strata, measured by RecordReference on gen_data.py's tables at scale 0.01\n"
    strata ++= s"# with local[$cores], after a warm pass. Wall quartile bounds (ms): " +
      bounds.map(b => f"$b%.1f").mkString(", ") + "\n"
    strata ++= "# stratum = build-call jobs (<=1 | >=2) / wall quartile; rank = md5-of-name order in the stratum;\n"
    strata ++= "# fingerprint: stable | unstable over 2 runs at each of 2 core counts, - if not tried;\n"
    strata ++= "# pick: the stratum's first stable query by rank.\n"
    strata ++= "query\tbuild_jobs\twall_ms\tstratum\trank\tfingerprint\tpick\n"
    ms.sortBy(m => (stratum(m), md5(m.name))).foreach { m =>
      val s = stratum(m)
      val rank = byStratum(s).indexWhere(_.name == m.name) + 1
      val f = if (!fp.contains(m.name)) "-" else if (stable(m.name)) "stable" else "unstable"
      strata ++= f"${m.name}\t${m.buildJobs}\t${m.wallMs}%.1f\t$s\t$rank\t$f\t${if (picked(m.name)) "pick" else "-"}\n"
    }
    val ref = new StringBuilder
    ref ++= "# Registry reference fingerprints: rows:md5 of the sorted canonical rows,\n"
    ref ++= "# recorded with RecordReference on gen_data.py's tables at scale 0.01.\n"
    (RegistryWorkload.referenceSurface ++ picks.toSeq.sortBy(_._1).map(_._2)).foreach { n =>
      require(stable(n), s"$n: unstable fingerprint ${fp.getOrElse(n, Nil).mkString(" ")}")
      ref ++= s"$n\t${fp(n).head}\n"
    }
    Files.createDirectories(Paths.get(out))
    Files.writeString(Paths.get(out, "registry_strata.tsv"), strata.toString)
    Files.writeString(Paths.get(out, "registry_reference.tsv"), ref.toString)
    println(s"strata: ${picks.toSeq.sorted.map { case (s, n) => s"$s=$n" }.mkString(" ")}")
    sys.exit(0)
  }
}
