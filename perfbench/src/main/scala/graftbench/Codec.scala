package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, expr, struct}

/** The Confluent codec on its own: `ToConfluentAvro` then
  * `FromConfluentAvro` over seeded order events as a batch `noop` write. */
object Codec {
  val events = 200000L
  val reps = 3

  def eventsPerSecond(spark: SparkSession, a: Main.Args): Double = {
    val reg = StreamWorkloads.registry(
      java.nio.file.Paths.get(a.work, s"codec-registry-${System.nanoTime()}"))
    val orders = spark.range(events).select(
      col("id").as("event_id"),
      expr(s"element_at(array('click','view','purchase','signup','error'), " +
        s"cast(pmod(xxhash64(id, ${a.seed}L), 5) as int) + 1)").as("product"),
      expr(s"cast(pmod(xxhash64(id, ${a.seed}L + 1), 50000) as double) / 100").as("price"),
      expr("1704067200000 + id").as("ts_ms"))
    val wire = orders.select(graft.functions.ToConfluentAvro(
      struct(col("event_id"), col("product"), col("price"), col("ts_ms")),
      reg.dir, reg.v1).as("wire"))
    val decoded = wire.select(graft.functions.FromConfluentAvro(
      col("wire"), reg.dir, graft.streaming.Topology.wireV2).as("o"))
      .select("o.*")
    val times = (0 to reps).map { _ =>
      Stats.timed(RegistryWorkload.noop(decoded))._2
    }.drop(1)
    events / Stats.median(times)
  }
}
