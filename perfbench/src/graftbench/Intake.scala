package graftbench

import java.security.MessageDigest
import java.sql.{Connection, DriverManager, SQLException}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Schemas
import graft.pipelines.{EdgePipeline, PowerBiPipeline}
import graft.sinks.JdbcUpsertSink
import graft.sources.VcoSource

/** The paper's run: extract a seeded fleet over JSON-RPC, build the
  * eight gold tables, merge them into in-memory Derby. One run is a
  * LOAD of generation A into a freshly created empty schema, then a
  * REFRESH with generation B.
  */
class Intake(spark: SparkSession, fixture: Fixture, plan: JsonNode,
    expect: JsonNode) {
  import spark.implicits._

  private val Db = "jdbc:derby:memory:graftbench"
  private val vcos = plan.get("vcos").elements().asScala.map(_.asText()).toSeq
  def vcoCount: Int = vcos.size
  private val vcoName = plan.get("vco_name").asText()
  private val moved = Map(plan.get("moved").asText() -> Seq(vcoName))
  private val skip = plan.get("event_skip").elements().asScala.map(_.asText()).toSeq
  val Tables: Seq[String] = expect.get("keys").fieldNames().asScala.toSeq

  private val eventSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("edgeId", StringType),
    StructField("event_type", StringType), StructField("ts", StringType)))
  private val qoeSchema = StructType(Seq(
    StructField("edge_key", LongType), StructField("ts", TimestampType),
    StructField("tb", LongType), StructField("state", IntegerType)))

  /** Drop and recreate the in-memory database with the empty schema. */
  def resetDatabase(): Unit = {
    try DriverManager.getConnection(s"$Db;drop=true").close()
    catch { case _: SQLException => () } // a successful drop also throws
    withConn(s"$Db;create=true") { c =>
      val st = c.createStatement()
      Ddl.foreach(st.executeUpdate)
      st.close()
    }
  }

  private def withConn[T](url: String)(f: Connection => T): T = {
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  private def perVco(method: String, schema: StructType): DataFrame =
    vcos.map { v =>
      VcoSource.callWithRetry(Probe.transport("/" + v), method, "{}") match {
        case Right(lines) => spark.read.schema(schema).json(lines.toDS())
        case Left(err) => throw new RuntimeException(s"$method on $v: $err")
      }
    }.reduce(_ unionByName _)

  /** Extract: the DSv2 scan for edges (lazy, re-run by every table that
    * reads it), source functions where they exist, declared schemas
    * for the other collections. Also the A20 spot reconciliation of one
    * customer per VCO through the per-enterprise path, which carries
    * the full `with` list and so takes the licenses-less fallback on
    * one VCO.
    */
  private def extract(): PowerBiPipeline.Inputs = Trace.span("sources", "extract") {
    val customers = vcos.map(v =>
      VcoSource.networkEnterprises(spark, Probe.transport("/" + v))
        .select(col("id"), col("logicalId"), col("name")))
      .reduce(_ unionByName _)
    val edges = spark.read.format("graft-vco")
      .option("vcos", vcos.mkString(","))
      .option("transport", classOf[Probe.Factory].getName)
      .load()
    val configs = perVco("enterprise/getEnterpriseConfigurations",
      Schemas.configurationsDoc)
    val hubs = configs.select(explode(col("modules")).as("m"))
      .select(col("m.refs").getField("deviceSettings:vpn:edgeHub")
        .getField("data").getField("logicalId").as("edgeId"))
      .filter(col("edgeId").isNotNull).distinct()
    val audit = vcos.map { v =>
      VcoSource.enterpriseEdges(spark, Probe.transport("/" + v),
        plan.get("audit").get(v).get("id").asLong())
    }.reduce(_ unionByName _)
    auditCounts = EdgePipeline.minimalCounts(audit).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    PowerBiPipeline.Inputs(
      customers = customers,
      edges = edges,
      stacks = perVco("edge/getEdgeConfigurationStack", Schemas.configStackDoc),
      events = perVco("event/getEnterpriseEvents", eventSchema),
      linkMetrics = perVco("metrics/getEdgeLinkMetrics",
        Schemas.linkMetricDoc.add("edgeId", StringType)),
      qoe = perVco("linkQuality/getLinkQualityEvents", qoeSchema),
      hubs = hubs)
  }

  private var auditCounts = Map.empty[String, Long]

  /** One timed phase: extract, build, merge. Returns its wall seconds. */
  def phase(gen: String): Double = {
    fixture.generation = gen
    Probe.forgetFailures()
    val t0 = System.nanoTime()
    Trace.span("phase", if (gen == "A") "load" else "refresh") {
      val in = extract()
      val b0 = System.nanoTime()
      val gold = Trace.span("pipelines", "build") {
        PowerBiPipeline.build(in, vcoName, moved, skip)
      }
      Probe.add("pipelines.build_ms", (System.nanoTime() - b0) / 1e6)
      val m0 = System.nanoTime()
      val before = Probe.snapshot()
      PowerBiPipeline.run(gold, Probe.ProxyPrefix + Db.stripPrefix("jdbc:"),
        JdbcUpsertSink.DerbyMerge)
      val d = Probe.delta(before, Probe.snapshot())
      // the transform's self time: merge wall minus the time spent
      // inside JDBC and Transport calls made during it
      Probe.add("pipelines.exec_ms", (System.nanoTime() - m0) / 1e6 -
        d.getOrElse("sinks.jdbc_ms", 0.0) - d.getOrElse("sources.call_ms", 0.0))
    }
    (System.nanoTime() - t0) / 1e9
  }

  // ------------------------------------------------------------ checks

  private def canon(v: Any): String = v match {
    case null => "\\N"
    case b: java.lang.Boolean => b.toString
    case t: java.sql.Timestamp => t.getTime.toString
    case d: java.lang.Double => d.toString
    case x => x.toString
  }

  private def md5Prefix(s: String): Long = {
    val d = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    d.take(8).foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xffL))
  }

  /** Per table: key → full row text, plus the digest of the hashed
    * columns, read back from Derby.
    */
  final case class Snap(rows: Map[String, Map[String, String]],
      digests: Map[String, String])

  def snapshot(): Snap = withConn(Db) { c =>
    val st = c.createStatement()
    val res = Tables.map { t =>
      val keys = expect.get("keys").get(t).elements().asScala.map(_.asText()).toSeq
      val hashed = expect.get("hashed").get(t).elements().asScala.map(_.asText()).toSeq
      val rs = st.executeQuery(s"SELECT * FROM $t")
      val md = rs.getMetaData
      val names = (1 to md.getColumnCount).map(md.getColumnName(_).toUpperCase)
      def idx(n: String) = names.indexOf(n.toUpperCase) + 1
      val (ki, hi) = (keys.map(idx), hashed.map(idx))
      val rows = Map.newBuilder[String, String]
      var sum = 0L
      while (rs.next()) {
        val key = ki.map(i => canon(rs.getObject(i))).mkString("\u001f")
        rows += key -> (1 to names.size).map(i => canon(rs.getObject(i))).mkString("\u001f")
        sum += md5Prefix(hi.map(i => canon(rs.getObject(i))).mkString("\u001f"))
      }
      rs.close()
      (t -> rows.result(), t -> f"$sum%016x")
    }
    st.close()
    Snap(res.map(_._1).toMap, res.map(_._2).toMap)
  }

  /** Failures of one phase's outputs against the generator. */
  def check(phaseName: String, s: Snap, prev: Option[Snap]): Seq[String] = {
    val exp = expect.get(phaseName)
    val tables = Tables.flatMap { t =>
      val e = exp.get(t)
      val n = s.rows(t).size
      Seq(
        Option.when(n != e.get("rows").asInt())(s"$phaseName $t rows $n != ${e.get("rows").asInt()}"),
        Option.when(s.digests(t) != e.get("digest").asText())(
          s"$phaseName $t digest ${s.digests(t)} != ${e.get("digest").asText()}")).flatten
    }
    val audit = vcos.flatMap { v =>
      val c = plan.get("audit").get(v).get("logicalId").asText()
      val want = expect.get("audit_counts").get(v).asLong()
      Option.when(auditCounts.getOrElse(c, 0L) != want)(
        s"$phaseName audit $c ${auditCounts.getOrElse(c, 0L)} != $want")
    }
    val changes = prev.toSeq.flatMap { p =>
      Tables.flatMap { t =>
        val want = expect.get("changed").get(t).elements().asScala
          .map(_.elements().asScala.map(k => if (k.isNumber) k.asLong().toString
            else k.asText()).mkString("\u001f")).toSet
        val got = changedKeys(p, s, t)
        Option.when(got != want)(s"$phaseName $t changed ${got.size} keys, " +
          s"expected ${want.size} (e.g. ${(got diff want).take(2) ++ (want diff got).take(2)})")
      }
    }
    tables ++ audit ++ changes
  }

  def changedKeys(a: Snap, b: Snap, t: String): Set[String] =
    (a.rows(t).keySet ++ b.rows(t).keySet).filter(k => a.rows(t).get(k) != b.rows(t).get(k))

  /** Rows the generator expects a phase to change (every row on load). */
  def usefulRows(phaseName: String): Double =
    if (phaseName == "load")
      Tables.map(t => expect.get("load").get(t).get("rows").asDouble()).sum
    else Tables.map(t => expect.get("changed").get(t).size().toDouble).sum

  private val Ddl = Seq(
    """CREATE TABLE Customer (CustomerID VARCHAR(36) PRIMARY KEY,
      |  Customer_ID_VCO BIGINT, name VARCHAR(64),
      |  marketing_name VARCHAR(64))""".stripMargin,
    """CREATE TABLE Edge (EdgeID VARCHAR(36) PRIMARY KEY,
      |  Customer_ID_VCO VARCHAR(36), name VARCHAR(64), Edge_status VARCHAR(20),
      |  Model VARCHAR(30), Version VARCHAR(30), HA BOOLEAN, Activated_Days INT,
      |  Private_links_num INT, Public_links_num INT, BACKUP BOOLEAN,
      |  WIRELESS BOOLEAN, City VARCHAR(60), Country VARCHAR(60),
      |  PostalCode VARCHAR(20))""".stripMargin,
    """CREATE TABLE Links (LinkUUID VARCHAR(36), EdgeID VARCHAR(36),
      |  LinkName VARCHAR(60), Linktype VARCHAR(10),
      |  Networktype VARCHAR(20), IP VARCHAR(40), BackupState VARCHAR(20),
      |  PRIMARY KEY (EdgeID, LinkUUID))""".stripMargin,
    """CREATE TABLE Events (EventID BIGINT PRIMARY KEY,
      |  EdgeID VARCHAR(36), Event VARCHAR(40), EventTime TIMESTAMP)""".stripMargin,
    """CREATE TABLE DailyQOE (EdgeKey BIGINT, QoeDate DATE,
      |  n_brownouts INT, brownout_min DOUBLE, n_blackouts INT,
      |  blackout_min DOUBLE, PRIMARY KEY (EdgeKey, QoeDate))""".stripMargin,
    """CREATE TABLE License (EdgeID VARCHAR(36) PRIMARY KEY,
      |  LicenseMbps INT, License VARCHAR(40), UplinkPct DOUBLE,
      |  DownlinkPct DOUBLE, Score DOUBLE, FeatureSet VARCHAR(40),
      |  EventName VARCHAR(80))""".stripMargin) ++
    Seq("EdgeAttributes", "CustomerAttributes").map(t =>
      s"""CREATE TABLE $t (uuid VARCHAR(36), name VARCHAR(50),
         |  used BOOLEAN, num DOUBLE, text VARCHAR(100), filter_val VARCHAR(100),
         |  PRIMARY KEY (uuid, name))""".stripMargin)
}
