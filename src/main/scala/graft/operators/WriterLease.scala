package graft.operators

import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets

/** Best-effort single-writer lease for the persisted indexes.
  *
  * Both index families document a single-writer rule (manifest-guarded
  * appends interleaved from two streams corrupt silently); this marker
  * turns the violation LOUD instead of preventing it. Semantics are
  * deliberate takeover, not mutual exclusion:
  *
  *   - [[take]] OVERWRITES the marker with a fresh token and returns
  *     it. A crashed writer's stale marker is simply taken over on
  *     restart — no expiry machinery, no heartbeats, nothing to clean
  *     up after a crash.
  *   - [[check]] fails loudly when the marker no longer holds the
  *     caller's token — i.e. another writer (a second stream, a
  *     concurrent compaction) has taken over since. The failing writer
  *     stops before its NEXT append, so at most one in-flight batch can
  *     race the takeover; that batch lands under its own `batch_id`
  *     partition and the new owner's replay/prune discipline still
  *     applies to it.
  *
  * Honest limits: two writers that each take the lease and never check
  * again are not detected (the loops here check every batch), and the
  * read-then-write in [[take]] is not atomic — this narrows the silent
  * window to one batch, it does not close it. A transactional table
  * format or an external lock service is the real fix; plain
  * warehouse directories cannot do better.
  *
  * The marker lives beside the index's tables
  * (`<warehouse>/<name>__lease`) and goes through the Hadoop
  * FileSystem of that path, so any scheme (file/hdfs/s3a) works.
  */
private[graft] object WriterLease {

  private def leasePath(spark: SparkSession, name: String) =
    new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), s"${name.toLowerCase}__lease")

  /** Claim the lease for `name`, overwriting any holder. */
  def take(spark: SparkSession, name: String): String = {
    val token = java.util.UUID.randomUUID().toString
    val p = leasePath(spark, name)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(token.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    token
  }

  /** Require that this writer still holds the lease; a missing marker
    * also fails (someone released or never took it — the caller's
    * token can no longer be current either way). */
  def check(spark: SparkSession, name: String, token: String): Unit = {
    val p = leasePath(spark, name)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val held =
      if (!fs.exists(p)) None
      else {
        val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
        val in = fs.open(p)
        try { in.readFully(0, buf); Some(new String(buf, StandardCharsets.UTF_8)) }
        finally in.close()
      }
    require(held.contains(token),
      s"writer lease for index '$name' is held by another writer " +
        s"(${held.getOrElse("<missing>")}) — a second ingest stream or a " +
        "concurrent compaction took over; this writer must stop (the " +
        "index has a single-writer rule)")
  }

  /** Drop the marker (a clean shutdown; optional — takeover makes it
    * unnecessary for correctness). */
  def release(spark: SparkSession, name: String): Unit = {
    val p = leasePath(spark, name)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, false)
    ()
  }
}
