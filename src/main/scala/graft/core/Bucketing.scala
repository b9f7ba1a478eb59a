package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed-table helpers — the shuffle-elimination tool for repeated
  * large-×-large joins at 100 TB.
  *
  * Writing both sides bucketed (and sorted) on the join key co-locates
  * matching keys in the same bucket file; a subsequent equi-join reads
  * bucket-for-bucket and needs NO Exchange on either side — the single
  * most important physical layout decision for a fact⋈fact join that
  * runs daily. Bucket counts must match (or divide) across the two
  * sides.
  */
object Bucketing {

  /** Persist `df` as a bucketed, bucket-sorted table in the session
    * catalog (parquet under the warehouse dir). */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    // the in-memory catalog forgets tables across sessions but their
    // warehouse directories survive — clear a stale location too
    val warehouse = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table)
    val fs = warehouse.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(warehouse)) fs.delete(warehouse, true)
    df.write
      .mode("overwrite")
      .format("parquet")
      .bucketBy(buckets, key)
      .sortBy(key)
      .saveAsTable(table)
  }

  /** Idempotent [[writeBucketed]]: build the bucketed table at most once
    * per distinct source dataset, amortizing the one-time layout write
    * across every subsequent join — the actual economics of bucketing at
    * 100 TB (a per-query fact rewrite would cost more than the shuffle
    * it removes).
    *
    * `fingerprint` identifies the source dataset (fixture dir + source
    * file stats); it is hashed into the table name so datasets at
    * different scale factors coexist, and three tiers avoid the rewrite:
    *   1. table already in the session catalog → reuse as-is;
    *   2. warehouse dir survives from an earlier JVM with a matching
    *      `_graft_fingerprint` marker → re-register the existing files
    *      via CREATE TABLE ... CLUSTERED BY ... LOCATION (metadata-only);
    *   3. otherwise build with [[writeBucketed]] and drop the marker.
    *
    * SINGLE-WRITER ASSUMPTION (ADVICE r10): the delete → build → rename
    * → marker-write sequence takes no lock, so two JVMs racing to build
    * the same fingerprint can delete the directory the other just
    * registered. That is the deployment contract of this helper — one
    * driver owns a warehouse dir (the bench/driver topology here); a
    * multi-writer deployment must serialize externally (a real
    * metastore's table lock, or a per-table advisory lock) before
    * calling this.
    *
    * Returns the resolved table name.
    */
  def ensureBucketed(df: DataFrame, table: String, key: String, buckets: Int,
      fingerprint: String): String = {
    val spark = df.sparkSession
    val suffix = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$fingerprint|$key|$buckets".getBytes("UTF-8"))
      .map("%02x".format(_)).take(4).mkString
    val full = s"${table}_$suffix"
    if (spark.catalog.tableExists(full)) return full

    val warehouse = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), full)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = warehouse.getFileSystem(conf)
    LocalCheckpointFileManager.ensureMarked(
        new org.apache.hadoop.fs.Path(warehouse, "_graft_fingerprint"), conf,
        s"$fingerprint|$key|$buckets|${df.schema.toDDL}") {
      // build under a scratch name (saveAsTable only writes bucketed
      // layouts as managed tables), then move the files into place —
      // the registered table below is EXTERNAL, so a later catalog drop
      // (or a fresh JVM) never destroys the amortized layout
      if (fs.exists(warehouse)) fs.delete(warehouse, true)
      val scratch = s"${full}__build"
      writeBucketed(df, scratch, key, buckets)
      val scratchPath = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), scratch)
      if (!fs.rename(scratchPath, warehouse))
        throw new IllegalStateException(s"rename $scratchPath -> $warehouse failed")
      try spark.sql(s"DROP TABLE IF EXISTS `$scratch`")
      catch { case _: Exception => () } // dir already moved; metadata-only cleanup
    }
    spark.sql(
      s"""CREATE TABLE `$full` (${df.schema.toDDL})
         |USING parquet
         |CLUSTERED BY (`$key`) SORTED BY (`$key`) INTO $buckets BUCKETS
         |LOCATION '${warehouse.toString}'""".stripMargin)
    full
  }

  /** Join two bucketed tables on their bucket key — planned without a
    * shuffle when bucketing lines up. */
  def bucketedJoin(spark: SparkSession, leftTable: String, rightTable: String,
      leftKey: String, rightKey: String): DataFrame = {
    // bind each table once: building the condition from fresh
    // spark.table() calls only resolves while the relation cache returns
    // identical exprIds
    val l = spark.table(leftTable)
    val r = spark.table(rightTable)
    l.join(r, l(leftKey) === r(rightKey))
  }
}
