package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import graft.core.Graft
import graft.llm.{Dedup, Similarity}
import graft.mr.{KeyValue, MRApp, MRApps, MRJob, SequentialOracle}

/** The benchmark's engine-side harness: one JVM, one workload.
  *
  * Drives the engine through the same public calls a library user makes
  * and writes every raw sample, output and (traced runs only) span and
  * listener record to a JSON result file; `run.py` checks and reduces it.
  *
  * {{{
  *   BenchMain <workload> <input dir> <work dir> <result file> <seconds> <trace 0|1> <seed>
  * }}}
  */
object BenchMain {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuS(): Double = os.getProcessCpuTime / 1e9

  def main(args: Array[String]): Unit = {
    val mainStart = Clock.ms()
    val Array(workload, input, work, result, secondsArg, traceArg, seedArg) = args
    val rec = if (traceArg == "1") Some(new Recorder) else None

    val spark = rec.fold(Graft.session("perfbench"))(
      _.span("core.session", 0L)(Graft.session("perfbench")))
    rec.foreach(_.attach(spark))
    // the one engine setting the benchmark changes: repeated jobs must
    // recompute, not hit the per-session result memo
    spark.conf.set("spark.graft.memoize", "false")
    val w: Workload = workload match {
      case "wordcount" => new WordCount(spark, input, work)
      case "neardup" => new NearDup(spark, input)
      case "knn_serve" => new KnnServe(spark, input, seedArg.toLong, rec)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val out = mutable.LinkedHashMap[String, Any]("setup_s" -> (Clock.ms() - mainStart) / 1e3)
    val t0 = Clock.ms()
    out("first") = w.first()
    out("first_job_s") = (Clock.ms() - t0) / 1e3
    out ++= w.measure(secondsArg.toDouble, rec)
    rec.foreach { r => r.drain(spark); out("trace") = r.dump }
    out ++= w.finish()
    out("peak_rss_mb") = vmHwmMb()
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new File(result), out.toMap)
    spark.stop()
  }

  /** The process's peak resident set (`VmHWM`), in MB. */
  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)

  /** Time `body`: (result, wall seconds, process CPU seconds). */
  def timed[T](body: => T): (T, Double, Double) = {
    val (c0, t0) = (cpuS(), Clock.ms())
    val r = body
    (r, (Clock.ms() - t0) / 1e3, cpuS() - c0)
  }
}

/** One workload: set-up happens in the constructor. */
trait Workload {
  /** The first job or request of the JVM; returns its output record. */
  def first(): Any
  /** Measure warm work for `seconds`. With a recorder, traced and
    * untraced iterations alternate so the two can be compared.
    */
  def measure(seconds: Double, rec: Option[Recorder]): Map[String, Any]
  /** Anything the checks need that is computed after measuring. */
  def finish(): Map[String, Any] = Map.empty
}

/** A workload whose unit of work is one whole batch job. */
abstract class BatchWorkload extends Workload {
  /** One untraced job; returns its output record. */
  def job(i: Int): Any
  /** One traced iteration: the same job plus the per-layer calls, each
    * in its own span under a root span carrying request id `i`.
    */
  def tracedJob(i: Int, rec: Recorder): Map[String, Any]
  /** Untimed jobs after the first, while the JIT is still compiling. */
  def warmupJobs: Int

  def first(): Any = job(0)

  def measure(seconds: Double, rec: Option[Recorder]): Map[String, Any] = {
    val warm = (1 to warmupJobs).map(job)
    var i = warmupJobs + 1
    val jobs = mutable.ArrayBuffer[Map[String, Any]]()
    val traced = mutable.ArrayBuffer[Map[String, Any]]()
    val start = Clock.ms()
    // at least three untraced samples, and one traced in a traced run,
    // however long a job takes
    while ((Clock.ms() - start) / 1e3 < seconds || jobs.size < 3 ||
        (rec.nonEmpty && traced.isEmpty)) {
      rec match {
        case Some(r) if i % 2 == 0 => traced += tracedJob(i, r)
        case _ =>
          val (o, wall, cpu) = BenchMain.timed(job(i))
          jobs += Map("i" -> i, "wall_s" -> wall, "cpu_s" -> cpu, "output" -> o)
      }
      i += 1
    }
    Map("warmup" -> warm, "jobs" -> jobs.toSeq, "traced" -> traced.toSeq)
  }
}

/** `wordcount`: the reference's wc app through the holistic MR path. */
final class WordCount(spark: SparkSession, input: String, work: String)
    extends BatchWorkload {
  private val files: Seq[String] =
    new File(input).listFiles().map(_.getPath).filter(_.endsWith(".txt")).sorted.toSeq
  require(files.nonEmpty, s"no input files in $input")
  private val wc = MRApps.byName("wc")

  private def outDir(i: Int, tag: String) = s"$work/out-$tag-$i"
  def warmupJobs: Int = 1

  def job(i: Int): Any = {
    val dir = outDir(i, "job")
    MRJob.writeText(MRJob.run(spark, wc, files), dir)
    dir
  }

  def tracedJob(i: Int, rec: Recorder): Map[String, Any] = rec.span("wordcount", i) {
    val chars = rec.span("mr.read", i) {
      MRJob.read(spark, files).agg(sum(length(col("contents")))).head().getLong(0)
    }
    val t = new TimedApp(wc, spark)
    val dir = outDir(i, "traced")
    rec.span("mr.job", i) {
      val ds = rec.span("mr.run", i)(MRJob.run(spark, t, files))
      rec.span("mr.writeText", i)(MRJob.writeText(ds, dir))
    }
    // MRJob.run is lazy, so its work runs inside writeText; to time the
    // write itself, materialize the result in memory first as a child
    // span and take the parent's self time
    val written = outDir(i, "written")
    rec.span("mr.write", i) {
      val cached = rec.span("mr.materialize", i) {
        val ds = MRJob.run(spark, wc, files).persist()
        ds.count()
        ds
      }
      MRJob.writeText(cached, written)
      cached.unpersist()
    }
    Map("i" -> i, "output" -> dir, "written" -> written, "chars" -> chars,
      "map_s" -> t.mapNs.value / 1e9, "map_kv" -> t.mapKv.value,
      "reduce_s" -> t.reduceNs.value / 1e9, "reduce_keys" -> t.reduceKeys.value)
  }

  /** The sequential oracle over the same files, written once as text. */
  override def finish(): Map[String, Any] = {
    val contents = files.map { f =>
      (new File(f).getName, new String(Files.readAllBytes(Paths.get(f)), StandardCharsets.UTF_8))
    }
    val path = s"$work/oracle.txt"
    Files.write(Paths.get(path),
      SequentialOracle.run(contents, wc).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    Map("oracle" -> path)
  }
}

/** Delegates to an [[MRApp]] and accumulates the time spent inside its
  * `map` (including building the emitted pairs) and `reduce` (including
  * pulling the key's values from the sorted shuffle input), and the pairs
  * and keys each produced.
  */
final class TimedApp(inner: MRApp, spark: SparkSession) extends MRApp {
  private def acc(name: String): LongAccumulator = spark.sparkContext.longAccumulator(name)
  val mapNs: LongAccumulator = acc("mr.map_ns")
  val mapKv: LongAccumulator = acc("mr.map_kv")
  val reduceNs: LongAccumulator = acc("mr.reduce_ns")
  val reduceKeys: LongAccumulator = acc("mr.reduce_keys")

  def map(filename: String, contents: String): IterableOnce[KeyValue] = {
    val t0 = System.nanoTime()
    val kvs = inner.map(filename, contents).iterator.toArray
    mapNs.add(System.nanoTime() - t0)
    mapKv.add(kvs.length)
    kvs
  }

  def reduce(key: String, values: Iterator[String]): String = {
    val t0 = System.nanoTime()
    val r = inner.reduce(key, values)
    reduceNs.add(System.nanoTime() - t0)
    reduceKeys.add(1)
    r
  }
}

/** `neardup`: the deduplicated corpus at Jaccard 0.9. */
final class NearDup(spark: SparkSession, input: String) extends BatchWorkload {
  private val docs = graft.core.Tables.load(spark, input, "documents")
  // each job is some forty Spark jobs: the first one warms them all
  def warmupJobs: Int = 0

  private def pairsOf(df: DataFrame): Seq[Seq[Long]] =
    df.collect().toSeq.map(r => Seq(r.getLong(0), r.getLong(1)))

  def job(i: Int): Any = pairsOf(Dedup.dedupSurvivors(docs, 0.9))

  def tracedJob(i: Int, rec: Recorder): Map[String, Any] = rec.span("neardup", i) {
    val pairs = rec.span("dedup.jaccardPairs", i)(Dedup.jaccardPairs(docs, 0.9).count())
    val clusters = rec.span("dedup.dupClusters", i)(
      pairsOf(Dedup.dupClusters(docs, 0.9).select(col("doc_id"), col("cluster_id"))))
    val survivors = rec.span("dedup.dedupSurvivors", i)(job(i))
    Map("i" -> i, "pairs" -> pairs, "clusters" -> clusters, "output" -> survivors)
  }
}

/** `knn_serve`: a closed loop of two clients, each sending requests of 8
  * query vectors to the prebuilt, in-memory IVF int8 index.
  */
final class KnnServe(
    spark: SparkSession, input: String, seed: Long, rec: Option[Recorder])
    extends Workload {
  val Clients = 2
  val PerRequest = 8
  val Cells = 32
  val MinRequests = 40
  val WarmupRequests = 4
  private val corpus = spark.read.parquet(s"$input/embeddings.parquet")
  private val (cents, index) = {
    def build() = {
      val c = Similarity.ivfCentroidsInt8(corpus, Cells)
      val idx = Similarity.ivfIndexInt8(corpus, c).cache()
      idx.count()
      (c, idx)
    }
    rec.fold(build())(_.span("ann.index_build", 0L)(build()))
  }
  private val querySchema = spark.read.parquet(s"$input/queries.parquet").schema
  private val pool: Array[Row] =
    spark.read.parquet(s"$input/queries.parquet").orderBy("vec_id").collect()
  private val nextId = new AtomicLong

  private def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(r => Seq(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))

  /** One request: search the index for the given pool entries. */
  private def search(picks: Seq[Int]): (Seq[Seq[Any]], DataFrame) = {
    val q = spark.createDataFrame(picks.map(pool).asJava, querySchema)
    val df = Similarity.ivfSearchInt8Indexed(index, q, cents)
    (rowsOf(df), df)
  }

  def first(): Any = search(0 until PerRequest)._1

  def measure(seconds: Double, rec: Option[Recorder]): Map[String, Any] = {
    // the batch shape of the same layer: one-shot search of the whole
    // query pool, re-indexing the corpus with the same codebook; its
    // result is the reference every request is checked against, and it
    // warms the kernels the requests use
    // (the first call compiles its code paths; the next two are timed)
    val poolDf = spark.createDataFrame(pool.toSeq.asJava, querySchema)
    val oneShot = (1 to 3).map { _ =>
      val (rows, wall, cpu) = BenchMain.timed(
        rowsOf(Similarity.ivfSearchInt8(corpus, poolDf, codebook = Some(cents))))
      Map("wall_s" -> wall, "cpu_s" -> cpu, "output" -> rows)
    }
    val warm = closedLoop(0, None, WarmupRequests)
    val start = Clock.ms()
    val served = closedLoop(seconds, rec, MinRequests)
    val loopS = (Clock.ms() - start) / 1e3
    rec.foreach(_.drain(spark))
    Map("oneshot_warmup" -> oneShot.head, "jobs" -> oneShot.tail,
      "warmup" -> warm.map(withPlanMs),
      "requests" -> served.map(withPlanMs), "loop_s" -> loopS)
  }

  /** Run `Clients` closed-loop clients until `seconds` have passed and at
    * least `minRequests` requests have completed. With a recorder, the
    * loop alternates one-second windows of traced and untraced requests.
    */
  private def closedLoop(
      seconds: Double, rec: Option[Recorder], minRequests: Int): Seq[Map[String, Any]] = {
    val done = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]
    val start = Clock.ms()
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val threads = (0 until Clients).map { c =>
      new Thread(() => {
        val rnd = new scala.util.Random(seed * 1000003L + c)
        try {
          while ((Clock.ms() - start) / 1e3 < seconds || done.size < minRequests) {
            val picks = rnd.shuffle(pool.indices.toVector).take(PerRequest)
            val id = nextId.incrementAndGet()
            val traced = rec.filter(_ => ((Clock.ms() - start) / 1000).toLong % 2 == 1)
            val t0 = Clock.ms()
            val (rows, df) = traced match {
              case Some(r) => r.span("ann.request", id)(search(picks))
              case None => search(picks)
            }
            val t1 = Clock.ms()
            done.add(Map("id" -> id, "client" -> c, "start" -> t0, "end" -> t1,
              "cpu_total_s" -> BenchMain.cpuS(), "traced" -> traced.nonEmpty,
              "plan_qe" -> traced.map(_ => df.queryExecution),
              "queries" -> picks.map(pool(_).getLong(0)), "rows" -> rows))
          }
        } catch { case t: Throwable => failure.compareAndSet(null, t) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    Option(failure.get).foreach(t => throw t)
    done.asScala.toSeq
  }

  /** A traced request's planning time, resolved once the recorder has
    * drained the listener's query-execution callbacks.
    */
  private def withPlanMs(r: Map[String, Any]): Map[String, Any] =
    (r - "plan_qe") ++ (for {
      q <- r("plan_qe").asInstanceOf[Option[QueryExecution]]
      ms <- rec.flatMap(_.planMsOf(q))
    } yield "plan_ms" -> ms)
}
