package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One closed-loop client over the operator registry, run by `run.py`.
  *
  * Arguments (all required):
  *  - `--out DIR`     where `result.json`, `trace.jsonl` and the parquet dump
  *    of each key's cold-pass result go;
  *  - `--data D1,D2,…` one copy of the tables per set-up round; the last one
  *    serves the timed passes;
  *  - `--orders FILE`  one line per pass, the keys of that pass in order;
  *    pass 0 is the cold pass;
  *  - `--cpus N`       `local[N]` and the shuffle partition count;
  *  - `--traced P1,…`  the passes that run with the ledger attached (may be
  *    empty);
  *  - `--indexes I1,…`  offline index memos to fill in each set-up round:
  *    `minhash_sig`, or none.
  *
  * With `--oracle-keys K1,K2,… --out DIR` it only writes the oracle SQL of
  * those keys to `DIR/oracle_sql.json`.
  *
  * Each query is timed as three calls: the operator call (`ops.build`, which
  * includes every eager job the operator runs), `queryExecution.executedPlan`
  * (`catalyst.plan`) and a `noop` write of the full result (`exec.run`).
  */
object PerfBench {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
  private val Phases = Seq("ops.build", "catalyst.plan", "exec.run")

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val opts = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = Paths.get(opts("out"))
    Files.createDirectories(out)
    opts.get("oracle-keys") match {
      case Some(ks) =>
        val sql = graft.SparkEntry.oracleSql
        val picked = ks.split(",").toSeq.flatMap(k => sql.get(k).map(k -> _)).toMap
        Files.writeString(out.resolve("oracle_sql.json"), json.writeValueAsString(picked))
      case None => run(opts, out, mainMs)
    }
  }

  private def run(opts: Map[String, String], out: java.nio.file.Path, mainMs: Long): Unit = {
    val dataDirs = opts("data").split(",").toSeq
    val passes = Files.readAllLines(Paths.get(opts("orders"))).asScala.toSeq
      .filter(_.nonEmpty).map(_.split(",").toSeq)
    val cpus = opts("cpus")
    val tracedPasses = opts("traced").split(",").filter(_.nonEmpty).map(_.toInt).toSet
    val indexes = opts("indexes").split(",").toSeq.filter(_.nonEmpty)
    val registry = graft.SparkEntry.queries

    val t0 = now()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = secs(t0, now())

    // Set-up rounds: each round runs the warm-up and the offline index
    // builds over its own copy of the tables. The memos are keyed by table
    // path and file stamp, so every round builds afresh; the last round's
    // indexes serve the timed passes.
    val setupRounds = dataDirs.map { dir =>
      def timed(f: => Any): Double = { val a = now(); f; secs(a, now()) }
      Map("warmup_s" -> timed(warmUp(spark, dir))) ++ indexes.map {
        case "minhash_sig" => "minhash_sig" -> timed(graft.ops.LlmOps.minhashSigPath(spark, dir))
      }
    }
    val dir = dataDirs.last
    val setupDoneMs = System.currentTimeMillis()

    val ledger = new Ledger
    val sc = spark.sparkContext
    val epochNs0 = System.currentTimeMillis() * 1000000L - now()
    def epochMs(t: Long): Double = (t + epochNs0) / 1e6

    val queries = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passWalls = mutable.ArrayBuffer.empty[Map[String, Any]]
    val phaseCounters = mutable.ArrayBuffer.empty[Map[String, Any]]
    val plans = mutable.ArrayBuffer.empty[Map[String, Any]]
    val jvmStats = mutable.ArrayBuffer.empty[Map[String, Any]]
    val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
    val coldResults = mutable.ArrayBuffer.empty[(String, DataFrame)]
    var spanId = 0L
    def span(parent: Option[Long], name: String, key: String, pass: Int,
             startMs: Double, endMs: Double, attrs: Map[String, Any]): Long = {
      spanId += 1
      spans += Map("span" -> spanId, "parent" -> parent.orNull, "trace" -> s"$pass/$key",
        "name" -> name, "key" -> key, "pass" -> pass, "start_ms" -> startMs,
        "end_ms" -> endMs, "attrs" -> attrs)
      spanId
    }

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

    for ((order, pass) <- passes.zipWithIndex) {
      val traced = tracedPasses.contains(pass)
      if (traced) {
        sc.addSparkListener(ledger)
        spark.listenerManager.register(ledger)
      }
      val gc0 = gcMs
      if (traced) heapPools.foreach(_.resetPeakUsage())
      val pass0 = now()
      for (key <- order) {
        val fn = registry(key)
        val tags = Phases.map(p => p -> s"$pass\t$key\t$p").toMap
        val marks = mutable.ArrayBuffer(now())
        val executions = mutable.Map.empty[String, Seq[org.apache.spark.sql.execution.QueryExecution]]
        var error: String = null
        var df: DataFrame = null
        def phase(name: String)(f: => Unit): Unit = if (error == null) {
          sc.setLocalProperty(Ledger.PhaseProp, tags(name))
          try f
          catch { case scala.util.control.NonFatal(e) =>
            error = s"$name: ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
          } finally {
            sc.setLocalProperty(Ledger.PhaseProp, null)
            if (traced) {
              Bus.drain(sc)
              executions(name) = ledger.takeExecutions()
            }
            marks += now()
          }
        }
        phase("ops.build") { df = fn(spark, dir) }
        phase("catalyst.plan") { df.queryExecution.executedPlan }
        phase("exec.run") { df.write.format("noop").mode("overwrite").save() }
        while (marks.size < 4) marks += marks.last
        val Seq(b, p, e) = (0 until 3).map(i => secs(marks(i), marks(i + 1)))
        queries += Map("pass" -> pass, "key" -> key, "build_s" -> b, "plan_s" -> p,
          "exec_s" -> e, "error" -> error)
        if (error != null) System.err.println(s"[perfbench] pass $pass $key failed: $error")
        if (traced) {
          val counters = Phases.map(ph =>
            ph -> ledger.counters.get(tags(ph)).map(_.toMap).getOrElse(new Counters().toMap)).toMap
          Phases.foreach { ph =>
            phaseCounters += Map("pass" -> pass, "key" -> key, "phase" -> ph) ++ counters(ph)
          }
          // Plan shape of the query as it ran; parquet scans of every
          // execution the query caused, eager build-time jobs included.
          val run = executions.getOrElse("exec.run", Nil).lastOption.map(_.executedPlan)
          val scans = executions.values.flatten.map(qe => Ledger.scans(qe.executedPlan))
          val stats = run.map(Ledger.planStats).getOrElse(Map.empty) ++ Map(
            "scan_bytes" -> scans.map(_._1).sum, "scan_rows" -> scans.map(_._2).sum)
          plans += Map("pass" -> pass, "key" -> key) ++ stats
          val q = span(None, "query", key, pass, epochMs(marks(0)), epochMs(marks(3)),
            Map("error" -> error) ++ stats)
          Phases.zipWithIndex.foreach { case (ph, i) =>
            val ps = span(Some(q), ph, key, pass, epochMs(marks(i)), epochMs(marks(i + 1)),
              counters(ph))
            ledger.jobs.filter(_.tag == tags(ph)).foreach { j =>
              span(Some(ps), "job", key, pass, j.startMs.toDouble, j.endMs.toDouble,
                Map("job_id" -> j.jobId))
            }
          }
        }
        if (pass == 0 && error == null) coldResults += key -> df
      }
      passWalls += Map("pass" -> pass, "wall_s" -> secs(pass0, now()), "traced" -> traced)
      if (traced) {
        sc.removeSparkListener(ledger)
        spark.listenerManager.unregister(ledger)
      }
      // The result fingerprints are taken once, off the clock, from the
      // DataFrames the cold pass just timed, several at a time.
      if (pass == 0) {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(cpus.toInt)
        coldResults.map { case (key, df) =>
          val dump: Runnable =
            () => df.write.mode("overwrite").parquet(out.resolve("dump").resolve(key).toString)
          pool.submit(dump)
        }.foreach { f =>
          try f.get()
          catch { case e: java.util.concurrent.ExecutionException =>
            System.err.println(s"[perfbench] result dump failed: ${e.getCause}")
          }
        }
        pool.shutdown()
        coldResults.clear()
      }
      if (traced) jvmStats += Map("pass" -> pass, "gc_s" -> (gcMs - gc0) / 1000.0,
        "heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1e6)
    }

    if (tracedPasses.nonEmpty)
      Files.write(out.resolve("trace.jsonl"), spans.map(json.writeValueAsString).asJava)
    val result = Map(
      "main_ms" -> mainMs, "setup_done_ms" -> setupDoneMs, "session_s" -> sessionS,
      "setup_rounds" -> setupRounds, "queries" -> queries, "passes" -> passWalls,
      "phase_counters" -> phaseCounters, "plans" -> plans, "jvm" -> jvmStats)
    Files.writeString(out.resolve("result.json"), json.writeValueAsString(result))
    spark.stop()
  }

  /** The untimed warm-up `graft.Bench` runs too: a fact-table scan, a
    * shuffle aggregate and join, and a tiny GraphX run, so the first timed
    * query does not pay executor, codegen and GraphX start-up.
    */
  private def warmUp(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    spark.range(1000).count()
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    li.groupBy($"l_returnflag").count()
      .join(li.limit(1), Seq("l_returnflag"), "left").count()
    val vs = spark.sparkContext.parallelize(Seq((1L, 1), (2L, 1)))
    val es = spark.sparkContext.parallelize(Seq(org.apache.spark.graphx.Edge(1L, 2L, 1)))
    org.apache.spark.graphx.Graph(vs, es).connectedComponents().vertices.count()
  }
}
