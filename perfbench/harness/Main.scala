package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.{LinkedHashMap => JMap}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.chaining._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkEntry

/** The benchmark's JVM side. One process runs one workload from a plan file
  * written by `run.py`: session set-up and warmup, the measured closed loop
  * with tracing off, and (when asked) a traced repeat of the same loop with
  * listeners installed. It writes raw samples and raw trace events as JSON;
  * `run.py` checks results and derives every metric.
  *
  *   java ... perfbench.Main <plan.json>
  *   java ... perfbench.Main --catalog <out.json>   (every query's oracle SQL)
  */
object Main {
  private val json = new ObjectMapper()

  private def obj(kv: (String, Any)*): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  private def now(): Long = System.currentTimeMillis()

  def main(args: Array[String]): Unit = {
    if (args(0) == "--catalog") return catalog(args(1))
    val mainAt = now()
    val plan = json.readTree(Files.readAllBytes(Paths.get(args(0))))
    def str(k: String) = plan.get(k).asText()
    val workload = str("workload")
    val cores = plan.get("cores").asInt()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", str("work") + "/spark-local")
      .config("spark.sql.warehouse.dir", str("work") + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionAt = now()
    val out = obj(
      "workload" -> workload,
      "main_at_ms" -> mainAt,
      "session_at_ms" -> sessionAt,
      "conf" -> obj(spark.conf.getAll.toSeq.sortBy(_._1)
        .filter(kv => kv._1.startsWith("spark.sql.") || kv._1 == "spark.master"): _*))
    val runner: Runner = workload match {
      case "ingest" => new Ingest(spark, plan)
      case _ => new Queries(spark, plan)
    }
    runner.warmup()
    out.put("setup_done_ms", now())
    out.put("measured", runner.measure(traced = false))
    out.put("heap_retained_mb", retainedHeapMb())
    if (plan.get("trace").asBoolean()) {
      val tr = new Trace
      spark.sparkContext.addSparkListener(tr)
      spark.listenerManager.register(tr)
      out.put("traced", runner.measure(traced = true))
      drain(spark, tr)
      spark.listenerManager.unregister(tr)
      spark.sparkContext.removeSparkListener(tr)
      out.put("events", events(tr))
    }
    out.put("end_ms", now())
    Files.write(Paths.get(str("out")), json.writeValueAsBytes(out))
    spark.stop()
  }

  /** JVM heap still in use after forced full collections. Blocks that
    * were released asynchronously (unpersists, the context cleaner) free
    * memory only after a later collection, so collect until the used heap
    * stops falling. */
  private def retainedHeapMb(): Double = {
    def used() = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed }
    var (prev, cur, rounds) = (Long.MaxValue, used(), 0)
    while (rounds < 10 && cur < prev - (1L << 20)) {
      Thread.sleep(300)
      prev = cur; cur = used(); rounds += 1
    }
    math.min(prev, cur) / 1048576.0
  }

  /** Wait until the listener bus has delivered everything before a marker job. */
  private def drain(spark: SparkSession, tr: Trace): Unit = {
    spark.sparkContext.setLocalProperty(Trace.PhaseKey, "drain")
    spark.sparkContext.parallelize(Seq(1), 1).count()
    val deadline = now() + 30000
    while (!tr.jobs.asScala.exists(_.phase == "drain") ||
      tr.jobEnds.size < tr.jobs.size) {
      if (now() > deadline) throw new IllegalStateException("listener bus did not drain")
      Thread.sleep(20)
    }
    spark.sparkContext.setLocalProperty(Trace.PhaseKey, null)
  }

  private def events(tr: Trace): JMap[String, Any] = {
    val ends = tr.jobEndsById
    obj(
      "jobs" -> tr.jobs.asScala.toSeq.map { j =>
        val (end, ok) = ends.getOrElse(j.id, (0L, false))
        obj("id" -> j.id, "start" -> j.start, "end" -> end, "ok" -> ok,
          "stages" -> j.stageIds.asJava, "op" -> j.op, "phase" -> j.phase,
          "batch" -> j.batch, "site" -> tr.siteOf(j))
      }.asJava,
      "stages" -> tr.stages.values.asScala.toSeq.sortBy(_.id).map { s =>
        obj("id" -> s.id, "submitted" -> s.submitted, "completed" -> s.completed,
          "tasks" -> s.tasks, "failed_tasks" -> s.failedTasks, "wait_ms" -> s.waitMs,
          "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs, "shuffle_write" -> s.shuffleWrite,
          "shuffle_read" -> s.shuffleRead, "spill" -> s.spill, "in_bytes" -> s.inBytes,
          "in_rows" -> s.inRows, "out_bytes" -> s.outBytes)
      }.asJava,
      "catalyst" -> tr.phases.asScala.toSeq.map { p =>
        obj("phase" -> p.name, "start" -> p.start, "end" -> p.end)
      }.asJava)
  }

  /** Every registered query's oracle SQL (null where it has none). */
  private def catalog(path: String): Unit = {
    val oracle = SparkEntry.oracleSql
    val out = obj(SparkEntry.queries.keys.toSeq.sorted.map(n => n -> oracle.getOrElse(n, null)): _*)
    Files.write(Paths.get(path), json.writeValueAsBytes(out))
  }

  /** Drop everything an operation persisted or checkpointed, as `graft.Bench`
    * does between queries, so each one pays its own full cost. */
  def dropCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  trait Runner {
    def warmup(): Unit
    def measure(traced: Boolean): JMap[String, Any]
  }

  /** `floor`: a closed loop over registered queries. Each one is
    * built by its registry function and timed to the full result with a
    * `collect()`, so every output column is computed. */
  final class Queries(spark: SparkSession, plan: com.fasterxml.jackson.databind.JsonNode)
      extends Runner {
    private val dir = plan.get("data").asText()
    private val names = plan.get("ops").elements().asScala.map(_.asText()).toIndexedSeq
    private val registry = SparkEntry.queries

    private def runOne(tag: String, name: String): JMap[String, Any] = {
      val sc = spark.sparkContext
      sc.setLocalProperty(Trace.OpKey, tag)
      val rec = obj("name" -> name, "op" -> tag)
      val t0 = now(); val n0 = System.nanoTime()
      try {
        sc.setLocalProperty(Trace.PhaseKey, "build")
        val df = registry(name)(spark, dir)
        val n1 = System.nanoTime(); val t1 = now()
        sc.setLocalProperty(Trace.PhaseKey, "action")
        val rows = df.collect()
        val n2 = System.nanoTime(); val t2 = now()
        sc.setLocalProperty(Trace.PhaseKey, "check")
        rec.put("ok", true)
        rec.put("rows", rows.length)
        rec.put("digest", Canon.digest(df.schema, rows))
        rec.put("t0", t0); rec.put("t1", t1); rec.put("t2", t2)
        rec.put("build_ms", (n1 - n0) / 1e6)
        rec.put("action_ms", (n2 - n1) / 1e6)
      } catch {
        case e: Throwable =>
          rec.put("ok", false)
          rec.put("error", s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
          rec.put("t0", t0); rec.put("t2", now())
      } finally {
        sc.setLocalProperty(Trace.PhaseKey, "drop")
        dropCaches(spark)
        sc.setLocalProperty(Trace.OpKey, null)
        sc.setLocalProperty(Trace.PhaseKey, null)
      }
      rec
    }

    /** One untimed pass over the op list, run by `cores` threads at once:
      * it pays JIT, codegen, the schema memo and the Memo builds. Caches
      * are dropped once at the end (dropping between queries would pull
      * blocks from under the others); a query that fails here is re-run
      * alone. */
    def warmup(): Unit = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(plan.get("cores").asInt())
      val failed = try {
        names.map(n => pool.submit(() => scala.util.Try(registry(n)(spark, dir).collect())))
          .zip(names).filter(_._1.get().isFailure).map(_._2)
      } finally pool.shutdown()
      dropCaches(spark)
      failed.foreach(n => runOne("warmup", n))
    }

    /** `passes` whole passes over the op list; the traced repeat makes one. */
    def measure(traced: Boolean): JMap[String, Any] = {
      val passes = if (traced) 1 else plan.get("passes").asInt()
      val start = now()
      val ops = for (pass <- 0 until passes; (n, i) <- names.zipWithIndex)
        yield runOne(s"${if (traced) "t" else "m"}$pass.$i", n).tap(_.put("pass", pass))
      obj("start" -> start, "end" -> now(), "passes" -> passes, "ops" -> ops.asJava)
    }
  }

  /** `ingest`: `Streams.dedupIngestSink` fed by MemoryStream micro-batches
    * from a seeded generator with planted near-duplicates. Each batch is
    * timed from `addData` to `processAllAvailable` returning; after it, the
    * batch's kept ids are read back (untimed) for the correctness check. */
  final class Ingest(spark: SparkSession, plan: com.fasterxml.jackson.databind.JsonNode)
      extends Runner {
    private val p = plan.get("ingest")
    private val batches = p.get("batches").asInt()
    private val warmBatches = p.get("warmup_batches").asInt()
    private val perBatch = p.get("docs_per_batch").asInt()
    private val compactEvery = p.get("compact_every").asInt()
    private val seed = plan.get("seed").asLong()
    private val work = plan.get("work").asText()
    private var streams = 0

    private def dirBytes(f: java.io.File): Long =
      if (!f.exists()) 0L
      else if (f.isFile) f.length()
      else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

    private def gens(target: String): Int =
      Seq("shc", "bkc").map(d => Option(new java.io.File(s"$target/$d").list())
        .map(_.count(_.startsWith("gen="))).getOrElse(0)).sum

    private def stream(gen: DocGen, n: Int, pass: Int): JMap[String, Any] = {
      implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
      import spark.implicits._
      streams += 1
      val target = s"$work/ingest$streams/sink"
      val sc = spark.sparkContext
      sc.setLocalProperty(Trace.OpKey, "stream")
      val mem = MemoryStream[(Long, String)]
      val q = graft.streaming.Streams
        .dedupIngestSink(mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
          target, compactEvery = compactEvery)
        .option("checkpointLocation", s"$work/ingest$streams/ckpt")
        .start()
      sc.setLocalProperty(Trace.OpKey, null)
      val recs = ArrayBuffer.empty[JMap[String, Any]]
      val keptMd = java.security.MessageDigest.getInstance("MD5")
      val start = now()
      try {
        (0 until n).foreach { b =>
          val docs = gen.batch(perBatch)
          val g0 = gens(target)
          val t0 = now(); val n0 = System.nanoTime()
          mem.addData(docs)
          q.processAllAvailable()
          val n1 = System.nanoTime(); val t1 = now()
          sc.setLocalProperty(Trace.PhaseKey, "check")
          val kept = spark.read.parquet(s"$target/docs/batch=$b").select("doc_id")
            .as[Long].collect().sorted
          sc.setLocalProperty(Trace.PhaseKey, null)
          val expected = docs.map(_._1).filter(gen.keeps).sorted
          kept.foreach(id => keptMd.update(s"$id\n".getBytes("UTF-8")))
          recs += obj("batch" -> b, "pass" -> pass, "t0" -> t0, "t2" -> t1,
            "lat_ms" -> (n1 - n0) / 1e6,
            "docs" -> docs.size, "text_bytes" -> docs.map(_._2.length.toLong).sum,
            "kept" -> kept.length, "ok" -> kept.sameElements(expected),
            "compacted" -> (gens(target) != g0),
            "index_bytes" -> Seq("sh", "bk", "shc", "bkc")
              .map(d => dirBytes(new java.io.File(s"$target/$d"))).sum)
        }
      } finally q.stop()
      obj("start" -> start, "end" -> now(), "passes" -> 1, "ops" -> recs.asJava,
        "kept_digest" -> keptMd.digest().map("%02x".format(_)).mkString,
        "expected_digest" -> gen.keptDigest)
    }

    def warmup(): Unit = stream(new DocGen(seed ^ 0x5eedL), warmBatches, 0)

    /** `passes` fresh streams of the same seeded feed (the traced repeat
      * runs one), so every batch index is measured more than once. */
    def measure(traced: Boolean): JMap[String, Any] = {
      val runs = (0 until (if (traced) 1 else plan.get("passes").asInt()))
        .map(pass => stream(new DocGen(seed), batches, pass))
      obj("start" -> runs.head.get("start"), "end" -> runs.last.get("end"),
        "passes" -> runs.size,
        "ops" -> runs.flatMap(_.get("ops").asInstanceOf[java.util.List[Any]].asScala).asJava,
        "kept_ok" -> runs.forall(r => r.get("kept_digest") == r.get("expected_digest")))
    }
  }

  /** The ingest feed: 60-token unique documents over a 5000-token
    * vocabulary, and ~10% near-duplicates built from one of 40 shared
    * 40-token templates plus 4 random tokens (3-shingle Jaccard ~0.83 with
    * any other member of the same template, far above the sink's 0.7
    * threshold; unique documents share essentially no shingles). The sink
    * must therefore keep every unique document and exactly the first
    * member of each template. */
  final class DocGen(seed: Long) {
    private val rnd = new scala.util.Random(seed)
    private var nextId = 0L
    private val seen = scala.collection.mutable.Set.empty[Int]
    private val keptIds = scala.collection.mutable.Set.empty[Long]
    private val md = java.security.MessageDigest.getInstance("MD5")

    def keeps(id: Long): Boolean = keptIds.contains(id)

    def batch(n: Int): Seq[(Long, String)] = (0 until n).map { _ =>
      nextId += 1
      val body = Seq.fill(60)(s"t${rnd.nextInt(5000)}")
      val text =
        if (rnd.nextDouble() < 0.1) {
          val tpl = rnd.nextInt(40)
          if (seen.add(tpl)) keptIds += nextId
          ((0 until 40).map(i => s"p${tpl}_$i") ++ body.take(4)).mkString(" ")
        } else { keptIds += nextId; body.mkString(" ") }
      if (keptIds.contains(nextId)) md.update(s"$nextId\n".getBytes("UTF-8"))
      (nextId, text)
    }

    /** md5 of the expected kept ids in arrival order (call once, at the end). */
    def keptDigest: String = md.digest().map("%02x".format(_)).mkString
  }
}
