package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.core.{CopyPipeline, JdbcSource, ParquetDir, SnapshotLog, Tables, TempDirs}
import graft.ops.{Text, Vector}
import graft.streaming.EventStreams
import perfbench.Main.{Op, Result, Workload}

object Workloads {
  def apply(name: String, spark: SparkSession, corpus: String, work: String,
            cores: Int): Workload = name match {
    case "copy" => new CopyWorkload(spark, corpus, work, cores)
    case "dedup" => new DedupWorkload(spark, corpus)
    case "ingest" => new IngestWorkload(spark, corpus, work, cores)
    case other => sys.error(s"unknown workload $other")
  }

  /** (key, count) rows for operations whose result is not a frame */
  def kv(pairs: Seq[(String, Long)]): Result = Result(Seq("k", "v"), pairs.map { case (k, v) => Row(k, v) })

  def rows(df: DataFrame): Result = Result(df.columns.toSeq, df.collect().toSeq)
}

/** pgcp's own job: fan-out copy of the warehouse, hotswap re-copy,
  * projected and incremental copies, a parquet -> Derby -> Derby ->
  * parquet leg with key and index replay, and TPC-H-style analytics over
  * the published copy. */
final class CopyWorkload(spark: SparkSession, corpus: String, work: String, cores: Int)
    extends Workload {
  import Workloads._

  private val src = new ParquetDir(corpus)
  private val pub = s"$work/copy/pub"
  private val proj = s"$work/copy/proj"
  private val incr = s"$work/copy/incr"
  private val back = s"$work/copy/back"
  val dims = Seq("nation")
  /** primary key and secondary indexes created on the Derby source */
  val keys: Map[String, (String, Seq[(String, Boolean)])] = Map(
    "nation" -> ("n_nationkey", Seq("n_regionkey" -> false)))
  val queries = Seq("revenue_by_nation", "q6_forecast")
  def inputTables: Seq[String] = src.listTables()

  private var pass = 0
  override def beforePass(p: Int): Unit = pass = p

  private def derby(db: String, partitionKey: Option[String] = None): JdbcSource = {
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    new JdbcSource(s"jdbc:derby:memory:$db;create=true", props,
      partitionColumn = partitionKey.map(_.toUpperCase), numPartitions = cores)
  }
  private def jdbc[T](db: String)(f: java.sql.Connection => T): T = {
    Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    val c = java.sql.DriverManager.getConnection(s"jdbc:derby:memory:$db;create=true")
    try f(c) finally c.close()
  }
  private def drop(db: String): Unit =
    try { java.sql.DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true"); () }
    catch { case _: java.sql.SQLException => () } // a successful drop throws 08006

  /** The source database's schema, as a live database has it: plain DDL
    * with unquoted identifiers, a named primary key and secondary indexes. */
  private def createSource(db: String): Unit = jdbc(db) { c =>
    val st = c.createStatement()
    for (t <- dims) {
      val (pk, idx) = keys(t)
      val cols = src.read(spark, t).schema.fields.map { f =>
        val ty = f.dataType match {
          case IntegerType => "INT"
          case LongType => "BIGINT"
          case DoubleType => "DOUBLE"
          case _ => "VARCHAR(128)"
        }
        s"${f.name} $ty${if (f.name == pk) " NOT NULL" else ""}"
      }
      st.executeUpdate(s"CREATE TABLE $t (${cols.mkString(", ")}, CONSTRAINT pk_$t PRIMARY KEY ($pk))")
      for ((col, unique) <- idx)
        st.executeUpdate(s"CREATE ${if (unique) "UNIQUE " else ""}INDEX ix_${t}_$col ON $t ($col)")
    }
    st.close()
  }

  /** PK and index columns (1 = unique) read back through plain JDBC metadata */
  private def indexSet(db: String, table: String): Seq[(String, Long)] = jdbc(db) { c =>
    val md = c.getMetaData
    val t = table.toUpperCase
    val pk = {
      val rs = md.getPrimaryKeys(null, "APP", t)
      val b = Seq.newBuilder[String]
      while (rs.next()) b += rs.getString("COLUMN_NAME").toLowerCase
      rs.close(); b.result().sorted
    }
    val idx = {
      val rs = md.getIndexInfo(null, "APP", t, false, false)
      val b = Seq.newBuilder[(String, Boolean)]
      while (rs.next()) Option(rs.getString("COLUMN_NAME"))
        .foreach(col => b += (col.toLowerCase -> !rs.getBoolean("NON_UNIQUE")))
      rs.close(); b.result().distinct.sorted
    }
    (pk.map(k => s"$table:pk:$k" -> 1L) ++
      idx.map { case (col, u) => s"$table:idx:$col" -> (if (u) 1L else 0L) })
  }

  private def loaded(rs: Seq[CopyPipeline.CopyResult]): Seq[(String, Long)] =
    rs.map(r => r.table -> r.rows).sortBy(_._1)
  private def copyRows(rs: Seq[CopyPipeline.CopyResult]): Result = kv(loaded(rs))

  def ops: Seq[Op] = Seq(
    Op("copy_tables", "core.CopyPipeline", () =>
      copyRows(CopyPipeline.copyTables(spark, src, new ParquetDir(pub), "*", parallelism = cores))),
    Op("copy_projected", "core.CopyPipeline", () => {
      val r = CopyPipeline.copyTable(spark, src, new ParquetDir(proj), "orders",
        destTable = Some("orders_open"),
        options = CopyPipeline.CopyOptions(
          columns = Some(Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")),
          filter = Some(col("o_orderstatus") === "O")))
      kv(Seq(r.table -> r.rows))
    }),
    Op("copy_incremental", "core.CopyPipeline", () => {
      val dst = new ParquetDir(incr)
      val k = src.read(spark, "orders").agg(max(col("o_orderkey"))).head().getLong(0) / 2
      val first = CopyPipeline.copyTable(spark, src, dst, "orders",
        options = CopyPipeline.CopyOptions(filter = Some(col("o_orderkey") <= k)))
      val appended = CopyPipeline.copyIncremental(spark, src, dst, "orders", "o_orderkey")
      kv(Seq("initial" -> first.rows, "incremental" -> appended, "watermark" -> k))
    }),
    Op("jdbc_load", "core.Catalog", () => {
      // parquet -> existing keyed tables: staged write, hotswap, key replay
      val db = s"pb_src_$pass"
      createSource(db)
      kv(loaded(dims.map(t => CopyPipeline.copyTable(spark, src, derby(db), t))) ++
        dims.flatMap(t => indexSet(db, t)))
    }),
    Op("jdbc_copy", "core.Catalog", () => {
      // Derby -> fresh Derby: DDL from the source's columns, partitioned
      // reads, then the source's keys and indexes replayed after the load
      val to = s"pb_dst_$pass"
      kv(loaded(dims.map(t => CopyPipeline.copyTable(spark,
        derby(s"pb_src_$pass", Some(keys(t)._1)), derby(to), t))) ++
        dims.flatMap(t => indexSet(to, t)))
    }),
    Op("jdbc_unload", "core.Catalog", () => {
      val from = s"pb_dst_$pass"
      try copyRows(dims.map(t => CopyPipeline.copyTable(spark,
        derby(from, Some(keys(t)._1)), new ParquetDir(back), t)))
      finally { drop(s"pb_src_$pass"); drop(from) }
    })
  ) ++ queries.map(q => Op(q, "ops.Relational", () => rows(SparkEntry.queries(q)(spark, pub))))

  override def oracles: Seq[(String, String)] = queries.map(q => q -> SparkEntry.oracleSql(q))
  override def extraReport: Map[String, Any] = Map(
    "copy_dirs" -> Map("pub" -> pub, "proj" -> proj, "incr" -> incr, "back" -> back),
    "jdbc_keys" -> keys.map { case (t, (pk, idx)) =>
      t -> Map("pk" -> pk, "idx" -> idx.map { case (c, u) => Map("col" -> c, "unique" -> u) }) })
}

/** The LLM-pipeline head on the documents/embeddings corpus. */
final class DedupWorkload(spark: SparkSession, corpus: String) extends Workload {
  import Workloads._
  def inputTables: Seq[String] = Seq("documents", "embeddings")
  private val text: Seq[(String, () => DataFrame)] = Seq(
    "minhash_neardups" -> (() => Text.minhashNearDups(spark, corpus)))
  private val vector: Seq[(String, () => DataFrame)] = Seq(
    "ivf_nprobe_sweep" -> (() => Vector.ivfNprobeSweep(spark, corpus)))
  def ops: Seq[Op] =
    text.map { case (n, f) => Op(n, "ops.Text", () => rows(f())) } ++
      vector.map { case (n, f) => Op(n, "ops.Vector", () => rows(f())) }
  override def oracles: Seq[(String, String)] =
    text.map(_._1).map(n => n -> SparkEntry.oracleSql(n))
}

/** The snapshot log under writes beside reads: event-batch commits,
  * merge upserts, a delete and a compaction, latest / as-of / change-feed
  * reads through the graft-log source, and streaming into and out of the
  * log. A fresh table per pass keeps every pass the same work. */
final class IngestWorkload(spark: SparkSession, corpus: String, work: String, cores: Int)
    extends Workload {
  import Workloads._
  val table = s"$work/ingest/log"
  // six commits: the median operation then falls inside the commit cluster
  // (0.16-0.22 s), not in the gap between it and the 0.33-0.42 s cluster
  val batches = 6
  val mergeMods = Seq(0L)  // merge j updates event_id % 50 == j
  def inputTables: Seq[String] = Seq("events")
  private lazy val events = Tables.events(spark, corpus)
  private lazy val maxId = events.agg(max(col("event_id"))).head().getLong(0)
  private var commitsHead = -1L

  override def beforePass(p: Int): Unit = TempDirs.deleteRecursively(new File(table))

  private def slice(i: Int): DataFrame = {
    val per = maxId / batches + 1
    events.filter(col("event_id") >= i * per && col("event_id") < (i + 1) * per)
  }
  private def typeAgg(df: DataFrame, key: String): Result = rows(df.groupBy(key)
    .agg(count(lit(1)).as("n_rows"),
      round(sum(col("value").cast("decimal(18,2)")), 2).cast("double").as("sum_value")))

  private val streams: Seq[(String, () => DataFrame)] = Seq(
    "stream_snapshot_ingest" -> (() => EventStreams.snapshotIngest(spark, corpus)),
    "stream_log_source" -> (() => EventStreams.logSourceCounts(spark, corpus)))

  def ops: Seq[Op] =
    (0 until batches).map(i => Op(s"commit_$i", "core.SnapshotLog", () => {
      val v = SnapshotLog.commit(spark, slice(i), table, append = i > 0,
        statsFor = Seq("event_id"))
      if (i == batches - 1) commitsHead = v
      kv(Seq("version" -> v))
    })) ++ mergeMods.map(j => Op(s"merge_$j", "core.SnapshotLog", () => {
      val upd = events.filter(col("event_id") % 50 === j)
        .withColumn("value", col("value") + 1.0)
      kv(Seq("version" -> SnapshotLog.merge(spark, table, upd, "event_id")))
    })) ++ Seq(
      Op("delete_where", "core.SnapshotLog", () =>
        kv(Seq("version" -> SnapshotLog.deleteWhere(spark, table,
          SnapshotLog.Pred.StrEq("event_type", "error"))))),
      Op("compact", "core.SnapshotLog", () =>
        kv(Seq("version" -> SnapshotLog.compact(spark, table, targetFiles = cores)))),
      Op("read_latest", "sources.LogBatchScan", () =>
        typeAgg(spark.read.format("graft-log").load(table), "event_type")),
      Op("read_asof", "sources.LogBatchScan", () =>
        typeAgg(spark.read.format("graft-log").option("versionAsOf", commitsHead.toString)
          .load(table), "event_type")),
      Op("change_feed", "sources.LogBatchScan", () =>
        typeAgg(spark.read.format("graft-log").option("readChangeFeed", "true")
          .option("startingVersion", (commitsHead + 1).toString).load(table), "_change_type"))
    ) ++ streams.map { case (n, f) => Op(n, "streaming.EventStreams", () => rows(f())) }

  override def oracles: Seq[(String, String)] = streams.map(_._1).map(n => n -> SparkEntry.oracleSql(n))
  override def logTable: Option[String] = Some(table)
  override def extraReport: Map[String, Any] = Map(
    "ingest" -> Map("batches" -> batches, "merge_mods" -> mergeMods, "merge_modulus" -> 50,
      "deleted_type" -> "error"))
}
