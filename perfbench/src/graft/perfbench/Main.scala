package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.SparkSession

/** The benchmark JVM: one workload, one seed, one closed-loop client.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <scratch dir> --out <result json>
  *
  * Set-up time is the session start plus the median of SetupReps full
  * set-ups of the workload (fixture build, reader open, cache fill; the
  * first one in the fresh JVM is cold, and is also reported on its own as
  * setup_first_s). Then the client repeats the workload's op for
  * --seconds (at least twice); then every answer is checked, untimed. A
  * traced run (--trace 1) traces half the ops, so traced and untraced
  * latencies come from the same run, then probes each layer on the
  * workload's own index. All metrics go to the result JSON; with tracing
  * on, the span list goes next to it. */
object Main {
  val SetupReps = 3
  /** Writes the result and span files (Jackson, from Spark's own jars). */
  private val Json = new ObjectMapper().registerModule(DefaultScalaModule)
  val Layers = Seq("analysis", "codec", "index.build", "index.maintain",
    "index.reader", "search")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    require(Workload.Names.contains(workload), s"unknown workload $workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = Files.createDirectories(Paths.get(opt("work")))
    val out = Paths.get(opt("out"))
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", Fixture.DocParts.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val runStart = System.nanoTime()
    def phase(name: String): Unit = System.err.println(
      f"[perfbench] phase $name%-8s done at ${(System.nanoTime() - runStart) / 1e9}%.1fs")
    try {
      val sessionS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
      val b = new Bench(spark, seed, work, traced)
      val w = Workload(workload, b)
      w.inputs()
      phase("inputs")
      b.tracer.enabled = traced
      val setupS = (0 until SetupReps).map { r =>
        val u0 = b.untimedNanos
        val t0 = System.nanoTime()
        w.setup(r)
        (System.nanoTime() - t0 - (b.untimedNanos - u0)) / 1e9
      }
      b.cacheMb = LayerProbe.cacheMb(spark)
      phase("setup")
      System.err.println(f"[perfbench] set-ups ${setupS.map(x => f"$x%.2f").mkString(", ")} s")

      val loop = mutable.ArrayBuffer[(Int, Double)]()
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      var i = 0
      while (System.nanoTime() < deadline || i < 2) {
        b.tracer.enabled = traced && w.tracedOp(i)
        b.tracer.op = i + 1
        val t0 = System.nanoTime()
        b.report.op(s"$workload#$i")(w.op(i)) match {
          case Some(_) => loop += ((i, (System.nanoTime() - t0) / 1e6))
          case None => b.report.failedOps += i
        }
        i += 1
      }
      b.tracer.enabled = false
      phase("loop")
      w.verify()
      phase("verify")

      val lat = w.latencies(loop.toSeq).filterNot(l => b.report.failedOps(l._1))
      val untraced = lat.filter(l => !traced || !w.tracedOp(l._1)).map(_._2)
      val r = b.report
      r.put("setup_s", sessionS + Stats.median(setupS), "s", SetupReps)
      r.put("setup_first_s", sessionS + setupS.head, "s")
      r.put("op_p50_ms", Stats.median(untraced), "ms", untraced.size)
      r.put("index_bytes_per_input_byte", w.indexBytesPerInputByte, "ratio")
      w.extraMetrics(untraced)
      if (traced) {
        b.tracer.enabled = true
        b.tracer.op = i + 1
        LayerProbe.analysis(b)
        w.probe()
        b.tracer.enabled = false
        phase("probe")
        layerMetrics(b, w)
        val tracedMs = lat.filter(l => w.tracedOp(l._1)).map(_._2)
        r.put("trace.overhead_ratio", Stats.median(tracedMs) / Stats.median(untraced),
          "ratio", tracedMs.size)
        Json.writeValue(Paths.get(out.toString.stripSuffix(".json") + "-spans.json").toFile,
          b.tracer.all.map(s => ListMap("id" -> s.id, "parent" -> s.parent,
            "name" -> s.name, "layer" -> s.layer, "op" -> s.op,
            "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
      }
      r.put("failed_op_ratio", r.failedOpRatio, "ratio", r.attempted.toInt)

      r.metrics.foreach { case (k, m) =>
        println(f"[perfbench] $workload%s $k%-44s ${m.value}%14.6g ${m.unit}%s (n=${m.n}%d)")
      }
      r.failures.foreach { case (o, d) => println(s"[perfbench] $workload FAILED $o: $d") }
      def num(v: Double): Option[Double] = Some(v).filter(x => !x.isNaN && !x.isInfinite)
      Json.writeValue(out.toFile, ListMap(
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
        "trace" -> traced, "cores" -> cores, "clients" -> 1,
        "attempted" -> r.attempted, "failed" -> r.failures.size,
        "failures" -> r.failures.map { case (o, d) => ListMap("op" -> o, "detail" -> d) },
        "metrics" -> r.metrics.map { case (k, m) =>
          k -> ListMap("value" -> num(m.value), "unit" -> m.unit, "n" -> m.n) },
        "self_time_ms" -> b.tracer.selfTimes.map { case (l, (ms, n)) =>
          l -> ListMap("self_ms" -> ms, "spans" -> n) },
        "calls" -> b.rec.summary.map { case (k, n, med, total) =>
          ListMap("kind" -> k, "n" -> n, "median_ms" -> med, "total_ms" -> total) }))
    } finally spark.stop()
  }

  /** Per-layer metrics of a traced run, from the recorder's calls, the
    * build stage table, the probes and the spans. */
  private def layerMetrics(b: Bench, w: Workload): Unit = {
    val r = b.report
    val rec = b.rec
    def med(xs: Seq[Double]) = Stats.median(xs)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else xs.sum / xs.size

    val stages = b.stageTimes.toSeq.collect { case (k, st) if k == w.buildKind => st }
    Seq("segments", "collstats", "hotterms", "termstats").foreach { s =>
      r.put(s"index.build.${s}_s", med(stages.map(_.getOrElse(s, 0.0))), "s", stages.size)
    }
    r.put("index.build.postings_s", med(stages.map(
      _.collect { case (k, v) if k.startsWith("postings") => v }.sum)), "s", stages.size)
    val builds = rec.stats(w.buildKind)
    val n = builds.size
    val docs = w.docsPerBuild.toDouble
    def perBuild(name: String, unit: String)(f: CallStats => Double): Unit =
      r.put(s"index.build.$name", med(builds.map(f)), unit, n)
    perBuild("shuffle_write_bytes_per_doc", "B/doc")(_.shuffleWriteBytes / docs)
    perBuild("shuffle_read_bytes_per_doc", "B/doc")(_.shuffleReadBytes / docs)
    perBuild("spill_bytes", "B")(_.spillBytes.toDouble)
    perBuild("gc_s", "s")(_.gcMs / 1000.0)
    perBuild("scheduler_delay_s", "s")(_.schedulerDelayMs / 1000.0)
    perBuild("task_skew", "ratio")(_.taskSkew)
    perBuild("jobs", "count")(_.jobs.toDouble)
    perBuild("stages", "count")(_.stages.toDouble)
    perBuild("tasks", "count")(_.tasks.toDouble)
    perBuild("single_task_stages", "count")(_.singleTaskStages.toDouble)

    def callMs(kind: String) = rec.wallMs(kind)
    r.put("index.maintain.update_s", med(callMs("index.maintain.update")) / 1000, "s",
      callMs("index.maintain.update").size)
    r.put("index.maintain.delete_s", med(callMs("index.maintain.delete")) / 1000, "s",
      callMs("index.maintain.delete").size)
    r.put("index.maintain.compact_s", med(b.compactMs.toSeq) / 1000, "s", b.compactMs.size)
    r.put("index.maintain.noop_compact_ms", med(b.noopCompactMs.toSeq), "ms",
      b.noopCompactMs.size)
    r.put("index.maintain.subindexes", med(b.subIndexes.toSeq), "count", b.subIndexes.size)

    Seq("open", "first_query", "termstats", "blocks").foreach { k =>
      val xs = callMs(s"index.reader.$k")
      r.put(s"index.reader.${k}_ms", med(xs), "ms", xs.size)
    }
    r.put("index.reader.cache_mb", b.cacheMb, "MB")

    val parse = callMs("search.parse")
    r.put("search.parse_us", med(parse) * 1000, "us", parse.size)
    r.put("search.rewrite_ms", med(callMs("search.rewrite")), "ms",
      callMs("search.rewrite").size)
    Queries.Classes.foreach { c =>
      val xs = callMs(s"search.$c")
      r.put(s"search.${c}_p50_ms", med(xs), "ms", xs.size)
    }
    val qs = Queries.Classes.flatMap(c => rec.stats(s"search.$c"))
    r.put("search.jobs_per_query", mean(qs.map(_.jobs.toDouble)), "count", qs.size)
    r.put("search.tasks_per_query", mean(qs.map(_.tasks.toDouble)), "count", qs.size)
    r.put("search.shuffle_bytes_per_query",
      mean(qs.map(q => (q.shuffleWriteBytes + q.shuffleReadBytes).toDouble)), "B", qs.size)
    r.put("search.driver_ms_per_query", mean(qs.map(_.driverMs)), "ms", qs.size)

    val self = b.tracer.selfTimes
    Layers.foreach { l =>
      val (ms, spans) = self.getOrElse(l, (Double.NaN, 0))
      r.put(s"$l.self_ms", ms, "ms", spans)
    }
  }
}
