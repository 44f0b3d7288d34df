package graftbench

import java.security.MessageDigest
import java.sql.{Connection, DriverManager, ResultSet, Types}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.{GraftServer, GraftSession, SparkEntry}
import graft.operators.TpchSql

/** A workload: how to set it up, replay it, and hand its outputs over. */
trait Workload {
  protected def a: Args
  protected var spark: SparkSession = _
  val warmFailures: ArrayBuffer[String] = ArrayBuffer[String]()

  /** Session, inputs, endpoint and the untimed warm passes. Nothing is
    * torn down: Spark's shutdown hook stops the context at JVM exit. */
  def setUp(tracer: Option[Tracer]): Unit
  /** Replay the seeded operation loop until `seconds` have passed. */
  def measure(seconds: Double, tracer: Option[Tracer]): Seq[Op]
  /** Operation name -> DuckDB SQL that computes its expected output. */
  def oracleSql: Map[String, String]
  /** Write what the timed operations returned where their `output` paths
    * point, for the oracle check. Runs after the timed window. */
  def dumpOutputs(): Unit = ()
  /** Documents whose text feeds the kernel timings of a traced run. */
  def kernelSample(): Seq[String] =
    Workload.docSample(spark, s"${a.data}/documents.parquet")
  def layerExtras(t: Tracer): Map[String, Double] = Map.empty
  def sparkVersion: String = spark.version

  protected def session(tracer: Option[Tracer], confs: Map[String, String] = Map.empty): Unit = {
    val all = confs ++ Map("spark.sql.warehouse.dir" -> s"${a.out}/warehouse") ++
      tracer.map(_ => "spark.sql.queryExecutionListeners" -> classOf[QeListener].getName)
    spark = GraftSession.get(s"local[${a.cpus}]", a.cpus, all)
    tracer.foreach(_.attach(spark))
  }

  /** Whole passes until the deadline: every run replays each operation
    * equally often, so its latency mix does not depend on where the
    * deadline cut a pass. */
  protected def passes(deadline: Long)(pass: Int => Seq[Op]): Seq[Op] = {
    val done = ArrayBuffer[Op]()
    var p = 0
    while (p == 0 || System.nanoTime() < deadline) {
      done ++= pass(p)
      p += 1
    }
    done.toSeq
  }
}

object Workload {
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  def nextId(): Long = ids.incrementAndGet()

  def shuffled[T](xs: Seq[T], seed: Long): Seq[T] = new scala.util.Random(seed).shuffle(xs)

  def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  /** Order-sensitive digest of a result: every row, every column. */
  def digest(rows: Iterator[Seq[Any]]): (String, Long) = {
    val md = MessageDigest.getInstance("MD5")
    var n = 0L
    rows.foreach { r =>
      r.foreach { v => md.update(String.valueOf(v).getBytes("UTF-8")); md.update(1.toByte) }
      md.update(2.toByte)
      n += 1
    }
    (md.digest().map(b => f"$b%02x").mkString, n)
  }

  def docSample(spark: SparkSession, path: String, n: Int = 2000): Seq[String] =
    spark.read.parquet(path).select("text").orderBy("doc_id").limit(n)
      .collect().map(_.getString(0)).toSeq
}

/**
 * curation_sf1: a curation batch over a seeded slice of the sf1 corpus,
 * one driver thread in an in-process session. Every operator's result is
 * written as parquet, one directory per pass, and the oracle check reads
 * those files back.
 */
class Curation(val a: Args) extends Workload {
  val entries: Seq[String] = Seq("c01_curation", "t08_pii_redact", "d10_winnowing",
    "a07_semantic_dedup", "t22_bpe_encode", "p05_shard_pack")

  def oracleSql: Map[String, String] = entries.map(n => n -> SparkEntry.oracleSql(n)).toMap

  /** Two warm passes: after one, the next pass still runs 10-20% slower
    * while the JIT compiles, and that warm-up varies from run to run. */
  def setUp(tracer: Option[Tracer]): Unit = {
    session(tracer)
    warm()
    warm()
  }

  private def warm(): Unit = entries.foreach { name =>
    val op = once(name, Workload.nextId(), -1, None)
    if (!op.ok) warmFailures += s"$name: ${op.error}"
  }

  /** Build the entry's frame, then write it: the build and the write are
    * timed apart. */
  private def once(name: String, id: Long, pass: Int, tracer: Option[Tracer]): Op = {
    val output = if (pass < 0) s"warm/$name" else s"outputs/p$pass/$name"
    tracer.foreach(_.opStart(spark, id))
    val t0 = System.nanoTime()
    var t1 = t0
    try {
      val df = SparkEntry.queries(name)(spark, a.data)
      t1 = System.nanoTime()
      df.write.mode("overwrite").parquet(s"${a.out}/$output")
      val t2 = System.nanoTime()
      tracer.foreach(_.opEnd(id, name, t0, t1, t2))
      Op(name, id, 0, t0, t2, ok = true, "", "", 0L, t1 - t0, t2 - t1, pass, output)
    } catch { case e: Exception =>
      val t2 = System.nanoTime()
      tracer.foreach(_.opEnd(id, name, t0, t1, t2))
      Op(name, id, 0, t0, t2, ok = false, Workload.message(e), "", 0L, t1 - t0, t2 - t1, pass)
    }
  }

  def measure(seconds: Double, tracer: Option[Tracer]): Seq[Op] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    passes(deadline)(p => entries.map(once(_, Workload.nextId(), p, tracer)))
  }
}

/**
 * tpch_jdbc: the 22 TPC-H texts over hive-jdbc against a GraftServer
 * endpoint, a closed loop over `Conns` connections. Latency is the
 * client's, from executeQuery to the last row fetched.
 */
class TpchJdbc(val a: Args) extends Workload {
  /** Half the cores of the 4-core reference host: statements queue at the
    * tail while task slots stay free. Fixed, so hosts compare. */
  val Conns = 2
  private var running: GraftServer.Running = _
  private var conns: Seq[Connection] = Seq.empty
  private var texts: Seq[(String, String)] = Seq.empty
  private val connectMs = ArrayBuffer[Double]()
  /** One result per (statement, digest) among the timed executions, so
    * every distinct result a timed statement returned is checked. */
  private val results = new ConcurrentHashMap[String, (StructType, Seq[Row])]()

  /** The TPC-H suite as SQL text: TpchSql's 21 texts plus s11 (Q3). s11's
    * text is read back from the parsed plan of its front-door entry. */
  private def tpchTexts(): Seq[(String, String)] = {
    val q3 = SparkEntry.queries("s11_sql_tpch")(spark, a.data).queryExecution.logical
      .origin.sqlText.getOrElse(sys.error("s11_sql_tpch: parsed plan carries no SQL text"))
    TpchSql.texts.map { case (n, _, t) => n -> t.trim } :+ ("s11_sql_tpch" -> q3.trim)
  }

  def oracleSql: Map[String, String] = texts.map { case (n, _) => n -> SparkEntry.oracleSql(n) }.toMap

  def setUp(tracer: Option[Tracer]): Unit = {
    // GraftServer.main's deployment shape: one shared session serves
    // every connection
    session(tracer, Map("spark.sql.hive.thriftServer.singleSession" -> "true"))
    running = GraftServer.start(spark, a.data, port = 0)
    texts = tpchTexts()
    Class.forName("org.apache.hive.jdbc.HiveDriver")
    conns = (0 until Conns).map(_ => connect())
    // the warm pass runs one connection per core: cold statements are
    // bound by single-threaded planning and code generation
    val extra = (Conns until math.max(Conns, a.cpus)).map(_ => connect())
    deal(conns ++ extra, texts, -1, None).filterNot(_.ok)
      .foreach(op => warmFailures += s"${op.name}: ${op.error}")
    extra.foreach(_.close())
  }

  private def connect(): Connection = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    var last: Exception = null
    while (System.nanoTime() < deadline) {
      val t0 = System.nanoTime()
      try {
        val c = DriverManager.getConnection(running.jdbcUrl)
        connectMs.synchronized(connectMs += (System.nanoTime() - t0) / 1e6)
        return c
      } catch { case e: Exception => last = e; Thread.sleep(200) }
    }
    throw new IllegalStateException(s"endpoint never accepted a connection: $last")
  }

  private def parallel[T](xs: Seq[T])(f: T => Unit): Unit = {
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = xs.map { x =>
      val th = new Thread(() => try f(x) catch { case e: Throwable => errors.add(e) })
      th.start(); th
    }
    threads.foreach(_.join())
    Option(errors.peek()).foreach(e => throw e)
  }

  /** One statement: executeQuery, then fetch every row. A timed
    * statement (`pass` >= 0) keeps its result under its digest unless an
    * equal result is already kept. */
  private def statement(c: Connection, conn: Int, name: String, text: String, id: Long,
                        pass: Int, tracer: Option[Tracer]): Op = {
    val st = c.createStatement()
    val t0 = System.nanoTime()
    var t1 = t0
    try {
      val rs = st.executeQuery(text)
      t1 = System.nanoTime()
      val n = rs.getMetaData.getColumnCount
      val rows = ArrayBuffer[Array[AnyRef]]()
      while (rs.next()) rows += Array.tabulate(n)(i => rs.getObject(i + 1))
      val t2 = System.nanoTime()
      val (hash, count) = Workload.digest(rows.iterator.map(_.toSeq))
      val output = s"outputs/$name/$hash"
      if (pass >= 0 && !results.containsKey(output)) {
        val schema = TpchJdbc.schema(rs)
        results.putIfAbsent(output, (schema, rows.map(r => Row.fromSeq(TpchJdbc.values(schema, r))).toSeq))
      }
      tracer.foreach(_.stmtEnd(id, name, text, t0, t1, t2, count))
      Op(name, id, conn, t0, t2, ok = true, "", hash, count, 0L, t1 - t0, pass, output)
    } catch { case e: Exception =>
      Op(name, id, conn, t0, System.nanoTime(), ok = false, Workload.message(e), "", 0L, pass = pass)
    } finally st.close()
  }

  /** Each pass deals the texts, in a seed-shuffled order, to whichever
    * connection is free; the next pass starts when both are idle. */
  def measure(seconds: Double, tracer: Option[Tracer]): Seq[Op] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    passes(deadline) { p =>
      deal(conns, Workload.shuffled(texts, a.seed * 1000003L + p), p, tracer)
    }
  }

  /** Run `order` once, each statement on whichever connection is free. */
  private def deal(cs: Seq[Connection], order: Seq[(String, String)], pass: Int,
                   tracer: Option[Tracer]): Seq[Op] = {
    val queue = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)](order.asJava)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
    parallel(cs.zipWithIndex) { case (c, i) =>
      var next = queue.poll()
      while (next != null) {
        out.add(statement(c, i, next._1, next._2, Workload.nextId(), pass, tracer))
        next = queue.poll()
      }
    }
    out.asScala.toSeq.sortBy(_.startNs)
  }

  override def dumpOutputs(): Unit = results.asScala.toSeq.sortBy(_._1).foreach {
    case (output, (schema, rows)) =>
      spark.createDataFrame(rows.asJava, schema).coalesce(1).write.mode("overwrite")
        .parquet(s"${a.out}/$output")
  }

  override def layerExtras(t: Tracer): Map[String, Double] = t.serverLayers(connectMs.toSeq)
}

object TpchJdbc {
  /** Spark schema for a JDBC result, so a kept result can be written as
    * parquet for the oracle check. */
  def schema(rs: ResultSet): StructType = {
    val md = rs.getMetaData
    StructType((1 to md.getColumnCount).map { i =>
      val t = md.getColumnType(i) match {
        case Types.BIGINT => LongType
        case Types.INTEGER => IntegerType
        case Types.SMALLINT => ShortType
        case Types.TINYINT => ByteType
        case Types.DOUBLE => DoubleType
        case Types.FLOAT | Types.REAL => FloatType
        case Types.DECIMAL | Types.NUMERIC => DecimalType(md.getPrecision(i), md.getScale(i))
        case Types.BOOLEAN => BooleanType
        case Types.TIMESTAMP => TimestampType
        case Types.DATE => DateType
        case _ => StringType
      }
      StructField(md.getColumnLabel(i).split('.').last, t, nullable = true)
    })
  }

  def values(schema: StructType, r: Array[AnyRef]): Seq[Any] =
    r.toSeq.zip(schema.fields).map {
      case (null, _) => null
      case (v: Number, f) if f.dataType == LongType => v.longValue
      case (v: Number, f) if f.dataType == IntegerType => v.intValue
      case (v: Number, f) if f.dataType == ShortType => v.shortValue
      case (v: Number, f) if f.dataType == ByteType => v.byteValue
      case (v: Number, f) if f.dataType == DoubleType => v.doubleValue
      case (v: Number, f) if f.dataType == FloatType => v.floatValue
      case (v: java.math.BigDecimal, _) => v
      case (v, f) if f.dataType == StringType => String.valueOf(v)
      case (v, _) => v
    }
}
