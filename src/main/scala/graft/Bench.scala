package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Per-entry error ledger: a failed fixture/query must surface as an
    // error, never masquerade as a (fast) timing. Populated by the timed
    // wrappers below, emitted in both JSON lines and on stderr.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // time every one-off index/fixture build explicitly so the query
    // entries measure pure query latency, not build + query
    def timed(name: String)(body: => Any): Double = {
      val t0 = System.nanoTime()
      try body catch { case e: Throwable =>
        errors(name) = e.toString.replace('\n', ' ').take(200)
        System.err.println(s"[bench] $name FAILED: ${errors(name)}")
      }
      (System.nanoTime() - t0) / 1e9
    }
    val builds = Seq(
      "ft_index_build" -> timed("ft_index_build")(
        SparkEntry.reader(spark, sfDir)),
      "ft_nrt_build" -> timed("ft_nrt_build")(
        SparkEntry.nrtReader(spark, sfDir)),
      "ft_stemmed_build" -> timed("ft_stemmed_build")(
        SparkEntry.reader(spark, sfDir, SparkEntry.Variant.analyzer("english"))),
      "ft_lang_builds" -> timed("ft_lang_builds")(
        SparkEntry.langReaders(spark, sfDir,
          Seq("german", "french", "spanish", "portuguese", "russian",
            "swedish", "finnish", "hungarian", "norwegian", "czech",
            "dutch", "danish", "romanian", "turkish", "galician",
            "portuguese_rslp", "catalan", "basque", "brazilian", "polish",
            "irish", "german2"))),
      "ft_syn_build" -> timed("ft_syn_build")(
        SparkEntry.reader(spark, sfDir, SparkEntry.Variant.Synonyms)),
      "ft_compound_build" -> timed("ft_compound_build")(
        SparkEntry.reader(spark, sfDir, SparkEntry.Variant.Compound)),
      "ft_rev_build" -> timed("ft_rev_build")(
        SparkEntry.reader(spark, sfDir, SparkEntry.Variant.Reversed)),
      "ft_delete_build" -> timed("ft_delete_build")(
        SparkEntry.deletedReaders(spark, sfDir)),
      "ft_update_build" -> timed("ft_update_build")(
        SparkEntry.updatedReaders(spark, sfDir)),
      "ft_sorted_build" -> timed("ft_sorted_build")(
        SparkEntry.sortedDocsDir(spark, sfDir)),
      "ann_ivf_build" -> timed("ann_ivf_build") {
        val (c, a) = SparkEntry.ivfIndex(spark, sfDir); c.count(); a.count()
      },
      "dedup_minhash_build" -> timed("dedup_minhash_build")(
        SparkEntry.minhashPairs(spark, sfDir).count()))
    // tiered vs full compaction: the fixture (base + 12 appends) is
    // timed once; partial/full merge costs are reported as entries so
    // the round report shows partial << full
    val tiered: Map[String, Double] = {
      val fixtureSec =
        timed("ft_tiered_fixture")(SparkEntry.tieredCompactTimes(spark, sfDir))
      Map("ft_tiered_fixture" -> fixtureSec) ++
        (try SparkEntry.tieredCompactTimes(spark, sfDir) match {
          case (p, f) => Map("ft_tiered_partial" -> p, "ft_tiered_full" -> f)
        } catch { case _: Throwable => Map.empty }) // error already in ledger
    }
    val results = builds.toMap ++ tiered ++
      SparkEntry.queries.map { case (name, fn) =>
        name -> timed(name)(fn(spark, sfDir).count())
      }
    // The driver stores only the last ~2000 chars of output and parses the
    // JSON line out of that tail; a 230-entry map does not fit, so rounds
    // 1-3 recorded parsed=null. Emit the full map first (for humans and
    // BENCH/), then ONE compact final line that is guaranteed to fit: the
    // slowest entries (the informative ones) capped so the whole line stays
    // well under the window even with sbt's trailing [success] line.
    def r3(v: Double): String = BigDecimal(v)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => " "
        case c => c.toString
      } + "\""
    // errors array rides in BOTH lines; normally [] so the compact line
    // stays small, and any non-empty content is the round's loudest signal.
    def errJson(full: Boolean): String =
      if (full)
        errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
          .mkString("\"errors\":{", ",", "},")
      else errors.keys.map(jstr).mkString("\"errors\":[", ",", "],")
    def jsonLine(entries: Seq[(String, Double)], extra: String,
        full: Boolean): String = {
      val qs = entries.map { case (k, v) => "\"" + k + "\":" + r3(v) }
        .mkString("{", ",", "}")
      s"""{"queries":$qs,$extra${errJson(full)}"n_errors":${errors.size},"ok":${errors.isEmpty},"n_queries":${results.size},"unit":"sec","sf":"$sfDir","metric":"total","value":${r3(total)}}"""
    }
    lazy val total = if (results.nonEmpty) results.values.sum else 0.0
    val asc = results.toSeq.sortBy(_._2)
    println("FULL " + jsonLine(asc, "", full = true))
    // compact: keep appending the slowest entries while the line fits in
    // ~1500 chars (leaves headroom for sbt's trailing success line)
    val desc = asc.reverse
    var keep = desc.length
    while (keep > 1 &&
      jsonLine(desc.take(keep), "\"truncated\":true,", full = false).length > 1500)
      keep -= 1
    val extra = if (keep < desc.length) "\"truncated\":true," else ""
    println(jsonLine(desc.take(keep), extra, full = false))
    spark.stop()
  }
}
