package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One timed span of benchmark work. Spans nest (a flow holds its three
  * requests, a query its plan and execution); `pass` groups the spans of
  * one full round of the workload, and pass 0 is set-up. */
final case class Span(id: Int, parent: Int, kind: String, name: String, pass: Int,
    t0: Long, t1: Long, ok: Boolean, err: String)

/** Span recorder for a run driven from one thread. [[op]] is the unit the
  * benchmark counts: it catches non-fatal errors and records them as a
  * failed op, so a throwing query, request or build is counted, never
  * dropped and never timed as a fast sample. [[span]] times a part of an
  * op and rethrows. Fatal errors are not caught anywhere. */
final class Rec {
  val spans = ArrayBuffer.empty[Span]
  private var next = 0
  private var stack = List(-1)

  def span[T](kind: String, name: String, pass: Int)(body: => T): T = {
    val id = next
    next += 1
    val parent = stack.head
    stack = id :: stack
    val t0 = System.nanoTime()
    def done(ok: Boolean, err: String): Unit = {
      stack = stack.tail
      spans += Span(id, parent, kind, name, pass, t0, System.nanoTime(), ok, err)
    }
    val r = try body catch { case NonFatal(e) => done(ok = false, e.getClass.getName); throw e }
    done(ok = true, "")
    r
  }

  def op[T](kind: String, name: String, pass: Int)(body: => T): Option[T] =
    try Some(span(kind, name, pass)(body)) catch { case NonFatal(_) => None }

  def toJson: List[Map[String, Any]] = spans.toList.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
    "pass" -> s.pass, "t0" -> s.t0, "t1" -> s.t1, "ok" -> s.ok, "err" -> s.err))
}

object Main {

  /** The session every workload runs in: `graft.Bench`'s configuration.
    * `cores` is `graft.Bench`'s core count capped at four, so hosts of
    * different widths run the same parallelism. */
  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = scala.util.Using.resource(Files.walk(p))(_.iterator().asScala.toList)
      all.reverse.foreach(Files.deleteIfExists)
    }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else scala.util.Using.resource(Files.walk(p))(_.iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum)

  /** [[Rec]] against a deliberately failing stub: three ops of which the
    * middle one throws, then an op that raises a fatal error, which must
    * reach the caller instead of being counted. */
  def selftest(): Map[String, Any] = {
    val rec = new Rec
    Seq(false, true, false).foreach { fails =>
      rec.op("query", "stub", 1) {
        Thread.sleep(5)
        if (fails) throw new IllegalStateException("stub failure")
      }
    }
    val fatal = try { rec.op("query", "fatal", 1)(throw new StackOverflowError("stub")); false }
      catch { case _: StackOverflowError => true }
    Map("fatal_propagated" -> fatal, "spans" -> rec.toJson)
  }

  /** Usage:
    *   selftest <outJson>
    *   gen <sf> <outDir>
    *   run <workload> <seed> <seconds> <trace 0|1> <dataDir> <outJson> <queries>
    * `queries` is the comma-separated list query_mix runs, or `all`. */
  def main(args: Array[String]): Unit = {
    val start = System.nanoTime()
    val cores = math.min(4, graft.Cpus.effective())
    args.toList match {
      case "gen" :: sf :: out :: Nil =>
        val spark = session(cores)
        try graft.GenData.writeSf(spark, sf.toDouble, out) finally spark.stop()
      case "run" :: workload :: seed :: seconds :: trace :: data :: out :: queries :: Nil =>
        val mix = if (queries == "all") graft.SparkEntry.declared.map(_.name) else queries.split(",").toSeq
        val result = Workloads.run(workload, seed.toLong, seconds.toDouble, trace == "1",
          data, cores, start, mix, Paths.get(out).getParent.resolve("results"))
        Files.writeString(Paths.get(out), json.writeValueAsString(result))
      case "selftest" :: out :: Nil => Files.writeString(Paths.get(out), json.writeValueAsString(selftest()))
      case _ =>
        System.err.println("usage: gen <sf> <dir> | selftest <outJson> | " +
          "run <workload> <seed> <seconds> <trace> <dataDir> <outJson> <queries>")
        sys.exit(2)
    }
  }
}

object Workloads {

  /** The artifact root every run writes under: `SPARK_GRAFT_ARTIFACTS_DIR`,
    * which the engine reads on each build. */
  def artifactRoot: String =
    sys.env.getOrElse("SPARK_GRAFT_ARTIFACTS_DIR", sys.error("SPARK_GRAFT_ARTIFACTS_DIR is not set"))

  /** Declared queries by operator module; every declared query must fall
    * in exactly one, so a module added to `SparkEntry.declared` and not
    * here stops the run instead of going unreported. */
  val families: Seq[(String, Seq[graft.Q])] = {
    import graft.operators._
    val fs = Seq("Medallion" -> Medallion.all, "Analytics" -> Analytics.all,
      "Notebook" -> Notebook.all, "Relational" -> Relational.all,
      "Formats" -> Formats.all, "Windows" -> Windows.all,
      "EventTime" -> EventTime.all, "Dedup" -> Dedup.all,
      "TextAnalysis" -> TextAnalysis.all, "Similarity" -> Similarity.all,
      "Multimodal" -> Multimodal.all, "Sampling" -> Sampling.all)
    val names = fs.flatMap(_._2.map(_.name))
    require(names.sorted == graft.SparkEntry.declared.map(_.name).sorted,
      "operator modules differ from SparkEntry.declared")
    fs
  }

  def shuffled[T](xs: Seq[T], seed: Long): Seq[T] = new scala.util.Random(seed).shuffle(xs)

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType.name == "HEAP")

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def run(workload: String, seed: Long, seconds: Double, traced: Boolean,
      data: String, cores: Int, start: Long, mix: Seq[String], results: Path): Map[String, Any] = {
    val spark = Main.session(cores)
    val trace = if (traced) Some(new Trace(artifactRoot)) else None
    trace.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
    }
    val rec = new Rec
    val w = workload match {
      case "etl_trigger" => new EtlTrigger(spark, data, rec)
      case "query_mix" => new QueryMix(spark, data, rec, seed, mix, results)
      case "index_build" => new IndexBuild(spark, data, rec, seed)
      case other => sys.error(s"unknown workload $other")
    }
    try {
      w.setup()
      val setupNs = System.nanoTime() - start
      heapPools.foreach(_.resetPeakUsage())
      val gc0 = gcMs
      val t0 = System.nanoTime()
      val deadline = t0 + (seconds * 1e9).toLong
      var pass = 1
      while (System.nanoTime() < deadline) { w.pass(pass); pass += 1 }
      val measuredNs = System.nanoTime() - t0
      val peakHeap = heapPools.map(_.getPeakUsage.getUsed).sum
      val gc = gcMs - gc0
      System.gc()
      val liveHeap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      val checks = w.checks()
      trace.foreach(_ => org.apache.spark.PerfbenchBus.drain(spark.sparkContext))
      Map(
        "workload" -> workload, "seed" -> seed, "traced" -> traced,
        "setup_ns" -> setupNs, "measured_ns" -> measuredNs, "passes" -> (pass - 1),
        "peak_heap_bytes" -> peakHeap, "live_heap_bytes" -> liveHeap, "gc_ms" -> gc,
        "clock" -> Map("nano" -> System.nanoTime(), "epoch_ms" -> System.currentTimeMillis()),
        "host" -> Map(
          "nproc" -> Runtime.getRuntime.availableProcessors(), "cores" -> cores,
          "heap_max_bytes" -> Runtime.getRuntime.maxMemory(),
          "kernel" -> System.getProperty("os.version"),
          "spark" -> spark.version, "java" -> System.getProperty("java.version"),
          "input_bytes" -> Main.treeBytes(Paths.get(data))),
        "spans" -> rec.toJson,
        "checks" -> checks,
        "extra" -> w.extra,
        "trace" -> trace.map(_.toJson).orNull)
    } finally {
      w.close()
      spark.stop()
    }
  }
}

/** One workload: untimed set-up, repeated timed passes, then output checks
  * outside the timed region. */
trait Workload {
  def setup(): Unit
  def pass(n: Int): Unit
  def checks(): Map[String, Any]
  def extra: Map[String, Any] = Map.empty
  def close(): Unit = ()
}

/** The reference's user-facing path over loopback HTTP: each flow is
  * `POST /trigger-etl`, `GET /verify-results`, `GET /sample-data`, one
  * client waiting for each reply. */
final class EtlTrigger(spark: SparkSession, data: String, rec: Rec) extends Workload {
  private val server = graft.Serve.start(spark, data, 0)
  private val base = s"http://127.0.0.1:${server.getAddress.getPort}"
  private val replies = ArrayBuffer.empty[(String, Int, String)]

  private def request(method: String, path: String): String = {
    val c = new java.net.URL(base + path).openConnection().asInstanceOf[java.net.HttpURLConnection]
    c.setRequestMethod(method)
    val code = c.getResponseCode
    val s = if (code < 400) c.getInputStream else c.getErrorStream
    val body = new String(s.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    s.close()
    replies += ((path, code, body))
    if (code != 200) throw new IllegalStateException(s"$method $path: HTTP $code")
    body
  }

  private def flow(pass: Int): Unit =
    rec.op("flow", "flow", pass) {
      val failed = Seq(
        rec.op("trigger", "/trigger-etl", pass)(request("POST", "/trigger-etl")),
        rec.op("verify", "/verify-results", pass)(request("GET", "/verify-results")),
        rec.op("sample", "/sample-data", pass)(request("GET", "/sample-data"))).count(_.isEmpty)
      if (failed > 0) throw new IllegalStateException(s"$failed requests failed")
    }

  /** One flow loads and compiles everything the pipeline runs. */
  def setup(): Unit = flow(0)
  def pass(n: Int): Unit = flow(n)

  def checks(): Map[String, Any] = {
    def tree(b: String): Option[JsonNode] = try Some(Main.json.readTree(b)) catch { case NonFatal(_) => None }
    val triggers = replies.collect { case ("/trigger-etl", code, b) =>
      val t = tree(b)
      Map("code" -> code,
        "layers" -> t.map(_.path("layers_processed").elements().asScala.map(_.asText).toList).getOrElse(Nil),
        "duration_sec" -> t.map(_.path("duration_sec").asDouble(-1.0)).getOrElse(-1.0))
    }
    val verifies = replies.collect { case ("/verify-results", code, b) =>
      Map("code" -> code, "tables" -> tree(b).map(_.path("tables").elements().asScala
        .map(n => n.path("table").asText -> n.path("rows").asLong(-1L)).toMap).getOrElse(Map.empty))
    }
    val samples = replies.collect { case ("/sample-data", code, b) =>
      Map("code" -> code, "tables" -> tree(b).map(_.path("samples").elements().asScala
        .map(n => n.path("table").asText -> n.path("rows").size).toMap).getOrElse(Map.empty))
    }
    val layers = graft.Pipeline.defaultLayers().map { case (l, sts) => l -> sts.map(_._1) }
    val names = layers.flatMap(_._2).toSet
    Map("triggers" -> triggers.toList, "verifies" -> verifies.toList, "samples" -> samples.toList,
      "layers" -> layers.toMap,
      "oracle" -> graft.SparkEntry.oracleSql.filter { case (k, _) => names(k) })
  }

  override def close(): Unit = server.stop(0)
}

/** The analyst's view: declared queries in a long-lived warm session, in
  * seed-shuffled order, each materialized through the `noop` sink so no
  * column is pruned. Every query starts from an empty cache, as in
  * `graft.Bench`. */
final class QueryMix(spark: SparkSession, data: String, rec: Rec, seed: Long,
    queries: Seq[String], results: Path) extends Workload {
  private val order = Workloads.shuffled(queries, seed)
  private var leaked = 0

  /** One pass that writes every result as parquet under `results`: it
    * builds the artifacts the mix reads and warms the session, and its
    * files are what the checks compare with the oracles. */
  def setup(): Unit = order.foreach { q =>
    spark.catalog.clearCache()
    rec.op("warmup", q, 0) {
      graft.SparkEntry.queries(q)(spark, data).coalesce(1).write.parquet(results.resolve(q).toString)
    }
  }

  def pass(n: Int): Unit = order.foreach { q =>
    spark.catalog.clearCache()
    val persisted = spark.sparkContext.getPersistentRDDs.size
    rec.op("query", q, n) {
      val df = rec.span("plan", q, n) {
        val df = graft.SparkEntry.queries(q)(spark, data)
        df.queryExecution.executedPlan
        df
      }
      rec.span("exec", q, n)(df.write.format("noop").mode("overwrite").save())
    }
    leaked += math.max(0, spark.sparkContext.getPersistentRDDs.size - persisted)
  }

  def checks(): Map[String, Any] = Map("queries" -> order.map { q =>
    Map("name" -> q, "results" -> results.resolve(q).toString,
      "oracle" -> graft.SparkEntry.oracleSql.getOrElse(q, null))
  })

  override def extra: Map[String, Any] = Map("leaked_persists" -> leaked,
    "family" -> Workloads.families.flatMap { case (f, qs) => qs.map(_.name -> f) }.toMap)
}

/** The write side of the artifact layer: cold builds of every index
  * artifact, in seed order, through the query constructors, until the run's
  * time is up. The engine memoizes artifacts per (JVM, input directory), so
  * each pass reads the same inputs through a directory of hard links it has
  * not seen before. */
final class IndexBuild(spark: SparkSession, data: String, rec: Rec, seed: Long) extends Workload {
  private val root = Paths.get(Workloads.artifactRoot)
  private val passes = ArrayBuffer.empty[Map[String, Any]]
  private val inputs = Paths.get(data).toAbsolutePath.getParent.resolve("inputs")
  private val rng = new scala.util.Random(seed)

  def setup(): Unit = ()

  def pass(n: Int): Unit = {
    val dir = inputs.resolve(s"pass$n")
    Files.createDirectories(dir)
    scala.util.Using.resource(Files.list(Paths.get(data)))(_.iterator().asScala.toList)
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach(f => Files.createLink(dir.resolve(f.getFileName), f))
    val count0 = graft.Artifacts.count
    val per0 = graft.Artifacts.perBuildSeconds
    val bytes0 = Main.treeBytes(root)
    // `Artifacts.table` materializes every artifact a constructor asks for
    rec.span("build_pass", "build_pass", n)(rng.shuffle(IndexBuild.requesters).foreach { q =>
      rec.op("build", q, n)(graft.SparkEntry.queries(q)(spark, dir.toString))
    })
    val per = graft.Artifacts.perBuildSeconds.map { case (k, v) => k -> (v - per0.getOrElse(k, 0.0)) }
      .filter(_._2 > 0)
    passes += Map("pass" -> n, "built" -> (graft.Artifacts.count - count0),
      "bytes_written" -> (Main.treeBytes(root) - bytes0), "per_artifact_s" -> per)
  }

  def checks(): Map[String, Any] =
    Map("artifacts_expected" -> IndexBuild.expected, "passes" -> passes.toList)

  override def close(): Unit = Main.deleteTree(inputs)
}

object IndexBuild {
  /** Declared queries whose constructors, taken together, request every
    * index artifact, so constructing them in any order builds all of them.
    * Constructing all 221 declared queries does too, but spends a third of
    * the time on planning and eager work that builds nothing. A change to
    * the artifact set shows up as a failed build check. */
  val requesters: Seq[String] = Seq(
    "dedup_bbit_minhash", "dedup_cascade", "dedup_incremental_lsh",
    "dedup_modality_agreement", "dedup_simhash", "dedup_weighted_jaccard",
    "mm_phash_pairs", "sim_assortativity", "sim_centroid_shift",
    "sim_dim_truncation", "sim_ivf_kmeans_topk", "sim_ivf_list_skew",
    "sim_nprobe_curve", "sim_recall_eval", "text_bpe_merge",
    "text_filter_agreement")

  val expected = 37
}
