package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap
import graft.core.JsonLite.obj

/** Empirical scale check: synthesizes an x10, x100 or x1000 replica of the
  * sf0.1 tables and publishes, per target query, the log-log slope of wall
  * time and of shuffle-write bytes from sf0.1 to that decade. Synthesis,
  * timing protocol and why each target is in its decade set:
  * docs/SCALE_CHECK.md.
  *
  * Usage (base dir: SPARK_GRAFT_SF_DIR, default the sf0.1 testdata):
  *  - `ScaleCheck` runs the full table (x10 all targets, x100
  *    [[X100Targets]], x1000 documents-only) into SCALE_CHECK.json;
  *  - `ScaleCheck <reps> [prefixes]` times only the decade's targets whose
  *    names match the comma-separated prefixes into SCALE_CHECK_X<reps>.json
  *    (`tools/merge_scale.py <reps>` folds it into SCALE_CHECK.json).
  */
object ScaleCheck {

  type Query = (SparkSession, String, Int) => DataFrame

  /** x10 targets run as their SparkEntry query. */
  private val Targets = Seq(
    "dd_ngram_jaccard", "dd_simhash", "dd_simhash_wide", "pl_corpus_e2e",
    "dd_minhash_lsh",
    "pl_dedup_corpus", "q_salted_join", "q5_local_supplier",
    "op_csvexport_zip", "op_sort_order", "tx_keywords", "op_type_fuzz",
    "dd_line_dedup", "pl_kmeans", "pl_nb_lang", "pl_lm_backoff", "rt_bm25",
    "rt_hybrid_rrf", "gr_pagerank", "gr_pagerank_w", "gr_walks",
    "gr_triangles", "ann_pq_persisted", "op_dataset_type2", "dd_spans",
    "op_checksum_invariant", "mm_codec_roundtrip", "mm_video_frames",
    "gr_node2vec",
    "mm_png_envelope", "mm_video_nodht", "mm_audio_depth", "mm_audio_g711",
    "mm_gif_anim", "mm_png16", "pl_unigram_roundtrip",
    "pl_wordpiece_roundtrip",
    "mm_gif_compose", "mm_audio_float", "pl_byte_fallback",
    "gr_ppr", "gr_pagerank_resume", "gr_report", "rt_eval_hybrid",
    "pl_dsir", "ann_pq_recall",
    "mm_audio_adpcm", "mm_audio_msadpcm", "mm_jpeg12", "mm_jpeg_lossless",
    "mm_png_subbyte", "mm_jpeg_arith",
    "mm_jpeg_losslessarith", "mm_jpeg_lossless_rst")

  /** x10 targets run as a scaled twin whose cluster/list counts grow with
    * the replication factor `mult` (the k-with-N sizing rule).
    */
  private val ScaledTargets: ListMap[String, Query] = {
    import graft.core.Tables
    import graft.ops.{KMeans, SemDeDup}
    ListMap(
      "dd_semantic" -> ((s: SparkSession, dir: String, mult: Int) =>
        SemDeDup.semantic(Tables.embeddings(s, dir), "vec_id", "embedding",
          k = 8 * mult, iters = 3, tauSq = 6500L)),
      "dd_inc_semantic" -> ((s: SparkSession, dir: String, mult: Int) => {
        val emb = Tables.embeddings(s, dir)
        val hist = emb.filter(col("vec_id") % 5 =!= 0)
        val mus = KMeans.fit(hist, "vec_id", "embedding", k = 8 * mult, iters = 3)
        SemDeDup.incremental(emb.filter(col("vec_id") % 5 === 0),
          KMeans.assignTo(hist, "vec_id", "embedding", mus)
            .select(col("vec_id"), col("cluster"), col("q")),
          mus, "vec_id", "embedding", tauSq = 5000L)
      }),
      "pl_curation_e2e" -> ((s: SparkSession, dir: String, mult: Int) =>
        SemDeDup.curate(Tables.embeddings(s, dir), "vec_id", "embedding",
          k = 8 * mult, iters = 3, tauSq = 6500L,
          keepNum = 3, keepDen = 4, n = 5)),
      "gr_cluster_labelprop" -> ((s: SparkSession, dir: String, mult: Int) =>
        graft.queries.GraphPack.clusterLabelProp(s, dir,
          kClusters = 8 * mult)),
      "ann_ivfpq" -> ((s: SparkSession, dir: String, mult: Int) => {
        val emb = Tables.embeddings(s, dir)
        graft.ops.Pq.searchIvfPq(emb, emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", dim = 64, m = 8, ksub = 16, iters = 2,
          nlist = 16 * mult, nprobe = 4 * mult, k = 10)
      }),
      "gr_knn_labelprop" -> ((s: SparkSession, dir: String, mult: Int) =>
        graft.queries.GraphPack.knnLabelPropScaled(s, dir,
          kClusters = 4 * mult)))
  }

  private val AllTargets: Seq[String] = Targets ++ ScaledTargets.keys

  /** The full run's x100 set (all tables synthesized). */
  private val X100Targets = Seq("dd_line_dedup", "pl_kmeans",
    "pl_dedup_corpus", "gr_cluster_labelprop", "gr_pagerank", "rt_bm25",
    "rt_hybrid_rrf", "gr_node2vec", "op_type_fuzz", "op_dataset_type2",
    "gr_triangles", "ann_ivfpq", "ann_pq_recall", "gr_pagerank_w", "gr_walks")

  /** Targeted runs above x10: each candidate mapped to the one fact table it
    * touches, the only table synthesized for it.
    */
  private val Targeted: Map[Int, Map[String, String]] = {
    val docs = Seq("pl_dedup_corpus", "dd_line_dedup", "rt_bm25", "dd_simhash_wide")
    Map(
      100 -> ((docs ++ Seq("dd_ngram_jaccard", "dd_simhash", "pl_dsir")).map(_ -> "documents") ++
        Seq("gr_pagerank", "gr_pagerank_w", "gr_ppr", "gr_pagerank_resume").map(_ -> "lineitem")).toMap,
      1000 -> ((docs :+ "pl_nb_lang").map(_ -> "documents") :+ ("gr_pagerank" -> "lineitem")).toMap)
  }

  /** The query a target runs at decade `reps`: at x1000, gr_pagerank runs
    * its deployment-shape twin at both scales of the row.
    */
  private def query(name: String, reps: Int): Query =
    if (reps == 1000 && name == "gr_pagerank")
      (s: SparkSession, dir: String, _: Int) => graft.queries.GraphPack.pagerankX1000Q(s, dir)
    else ScaledTargets.getOrElse(name,
      (s: SparkSession, dir: String, _: Int) => SparkEntry.queries(name)(s, dir))

  /** Key offset per replica, far above any base key. */
  private val Stride = 1000000000L

  private val FactKeys: Map[String, Seq[String]] = Map(
    "customer"   -> Seq("c_custkey"),
    "supplier"   -> Seq("s_suppkey"),
    "part"       -> Seq("p_partkey"),
    "orders"     -> Seq("o_orderkey", "o_custkey"),
    "lineitem"   -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events"     -> Seq("event_id", "user_id"),
    "documents"  -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  private val DimTables = Seq("nation", "region")

  private def replicateTable(s: SparkSession, baseDir: String, outDir: String,
                             table: String, reps: Int): Unit = {
    val df0 = s.read.parquet(s"$baseDir/$table.parquet")
    // split the 1-2 file base before the broadcast expansion, so row
    // generation and the parquet encode do not run on 1-2 tasks
    val df = if (reps >= 100) df0.repartition(32) else df0
    val keys = FactKeys(table)
    val repd = df.crossJoin(broadcast(s.range(reps).toDF("__rep")))
    val shifted = repd.select(df.columns.map { c =>
      if (keys.contains(c)) (col(c) + col("__rep") * Stride).as(c) else col(c)
    }.toIndexedSeq :+ col("__rep"): _*)
    val out = table match {
      case "documents" =>
        // replica-disjoint token space; replica 0 keeps the original text
        shifted
          .withColumn("text", when(col("__rep") === 0, col("text"))
            .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
              concat(lit("$1_r"), col("__rep")))))
          .withColumn("n_chars", length(col("text")).cast("long"))
      case _ => shifted
    }
    out.drop("__rep").write.mode("overwrite").parquet(s"$outDir/$table.parquet")
  }

  /** Writes the x`reps` replica of the `only` tables (every table when
    * None) under `outDir`.
    */
  private def synthesize(s: SparkSession, baseDir: String, outDir: String, reps: Int,
                         only: Option[Seq[String]]): Unit = {
    val marker = java.nio.file.Paths.get(outDir, "_SCALE_DONE")
    if (java.nio.file.Files.exists(marker) && only.isEmpty) return
    // a table is done when its parquet commit wrote _SUCCESS, so a later
    // run adds missing tables and rewrites a killed mid-write one
    def done(t: String): Boolean = java.nio.file.Files.exists(
      java.nio.file.Paths.get(outDir, s"$t.parquet", "_SUCCESS"))
    FactKeys.keys.toSeq.sorted.filter(t => only.forall(_.contains(t)))
      .filterNot(done)
      .foreach(replicateTable(s, baseDir, outDir, _, reps))
    DimTables.filter(t => only.forall(_.contains(t))).filterNot(done)
      .foreach { t =>
        s.read.parquet(s"$baseDir/$t.parquet")
          .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      }
    if (only.isEmpty)
      java.nio.file.Files.writeString(marker, s"reps=$reps base=$baseDir\n")
  }

  /** One slope row: wall and shuffle MB at sf0.1 and at the decade. */
  final case class Row(sf01Sec: Double, bigSec: Double, sf01Shuffle: Long, bigShuffle: Long) {
    /** The row's JSON at decade `reps`. The shuffle slope is 0.0 when either
      * scale shuffled nothing; x1000 rows carry no `ratio`, as committed.
      */
    def json(reps: Int): String = {
      def slope(a: Double, b: Double) = math.log(b / a) / math.log(reps.toDouble)
      val bSlope =
        if (sf01Shuffle > 0 && bigShuffle > 0) slope(sf01Shuffle.toDouble, bigShuffle.toDouble)
        else 0.0
      val ratio = if (reps < 1000) f""""ratio":${bigSec / sf01Sec}%.2f,""" else ""
      f"""{"sf01_sec":$sf01Sec%.3f,"x${reps}_sec":$bigSec%.3f,$ratio"slope":${slope(sf01Sec, bigSec)}%.3f,""" +
        f""""shuffle_sf01_mb":${sf01Shuffle / 1e6}%.1f,"shuffle_x${reps}_mb":${bigShuffle / 1e6}%.1f,"shuffle_slope":$bSlope%.3f}"""
    }
  }

  private def rowsJson(reps: Int, rows: Seq[(String, Row)]): String =
    obj(rows.map { case (n, r) => n -> r.json(reps) })

  private def protocol(reps: Int, codec: String): String =
    s"min-of-3 at sf0.1, min-of-2 at x$reps, untimed warmup at both scales, " +
      s"local[32] shuffle=32; shuffle bytes from pass 1; $codec shuffle codec; see docs/SCALE_CHECK.md"

  /** Cumulative shuffle-write bytes of every completed stage. */
  private final class ShuffleMeter(s: SparkSession) extends SparkListener {
    private val written = new java.util.concurrent.atomic.AtomicLong
    s.sparkContext.addSparkListener(this)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      written.addAndGet(e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)

    /** Bytes so far, after draining the async listener bus
      * (package-private in Spark, public in bytecode).
      */
    def flushed(): Long = {
      try {
        val sc = s.sparkContext
        val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
        bus.getClass.getMethods.find(m =>
          m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
          .foreach(_.invoke(bus))
      } catch { case _: Throwable => Thread.sleep(300) }
      written.get
    }
  }

  private def purge(s: SparkSession): Unit = {
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    s.catalog.clearCache()
  }

  private def seconds(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  private final class Run(spark: SparkSession, base: String) {
    private val meter = new ShuffleMeter(spark)

    private def runTarget(q: Query, dir: String, mult: Int): Unit = {
      if (mult >= 1000) {
        val freeGb = new java.io.File(sys.props("user.dir")).getUsableSpace / 1e9
        System.err.println(f"[scale] disk free: $freeGb%.1f GB")
        require(freeGb > 6.0, f"aborting x$mult pass: only $freeGb%.1f GB free on disk")
      }
      // every timed pass pays the cold plan, from a collected heap
      purge(spark)
      if (mult >= 10) System.gc()
      graft.core.Materialize.full(q(spark, dir, mult))
    }

    /** Min-of-`passes` wall per target, and its shuffle bytes from pass 1
      * (deterministic per plan and data).
      */
    private def timedPasses(dir: String, mult: Int, passes: Int,
                            qs: Seq[(String, Query)]): (Map[String, Double], Map[String, Long]) = {
      val shuffle = Map.newBuilder[String, Long]
      val walls = (1 to passes).map { p =>
        qs.map { case (name, q) =>
          val before = meter.flushed()
          val dt = seconds(runTarget(q, dir, mult))
          if (p == 1) shuffle += name -> (meter.flushed() - before)
          System.err.println(f"[scale] $dir pass $p $name: $dt%.2f s")
          name -> dt
        }.toMap
      }
      (qs.map { case (n, _) => n -> walls.map(_(n)).min }.toMap, shuffle.result())
    }

    def dir(reps: Int): String = s"${sys.props("user.dir")}/target/scale$reps"

    /** One decade: synthesize `tables` (all when None) at x`reps` and check
      * their row counts, warm every target up at both scales, then time
      * min-of-3 at sf0.1 and min-of-2 at x`reps`.
      */
    def decade(reps: Int, names: Seq[String], tables: Option[Seq[String]]): Seq[(String, Row)] = {
      val big = dir(reps)
      synthesize(spark, base, big, reps, tables)
      tables.getOrElse(FactKeys.keys.toSeq).foreach { t =>
        val n = spark.read.parquet(s"$base/$t.parquet").count()
        val nBig = spark.read.parquet(s"$big/$t.parquet").count()
        require(nBig == reps * n, s"x$reps synthesis wrong for $t: $nBig != $reps*$n")
      }
      val qs = names.map(n => n -> query(n, reps))
      for ((d, mult) <- Seq(base -> 1, big -> reps); (n, q) <- qs)
        System.err.println(f"[scale] warmup $d $n: ${seconds(runTarget(q, d, mult))}%.2f s")
      val (t1, s1) = timedPasses(base, 1, 3, qs)
      val (tk, sk) = timedPasses(big, reps, 2, qs)
      names.map(n => n -> Row(t1(n), tk(n), s1(n), sk(n)))
    }

    /** Untimed measurements behind the x10 notes, at one scale: the share
      * of the IVF-PQ code store a query probes, and the triangle census's
      * wedges versus the oriented two-hop candidates it materializes.
      */
    def diagnostics(d: String, mult: Int): Seq[(String, Seq[(String, String)])] = {
      purge(spark)
      val emb = graft.core.Tables.embeddings(spark, d)
      val pq = graft.ops.Pq.probeStats(emb, emb.filter(col("vec_id") < 5),
        "vec_id", "embedding", iters = 2, nlist = 16 * mult, nprobe = 4 * mult).collect()
      val scanned = pq.map(_.getAs[Long]("scanned")).sum
      val codes = pq.headOption.map(_.getAs[Long]("total")).getOrElse(0L)
      val fraction = if (codes > 0) scanned.toDouble / (codes.toDouble * pq.length) else 0.0
      purge(spark)
      val tri = graft.queries.GraphPack.trianglesDiag(spark, d).collect().head
      Seq(
        "ann_ivfpq" -> Seq("nlist" -> (16 * mult).toString, "nprobe" -> (4 * mult).toString,
          "probe_fraction" -> f"$fraction%.4f",
          "avg_scanned_codes" -> (scanned / math.max(pq.length, 1)).toString,
          "codes" -> codes.toString),
        "gr_triangles" -> Seq("n_wedges", "n_candidates", "n_oriented_edges",
          "max_oriented_outdeg").map(c => c -> tri.getAs[Long](c).toString))
    }
  }

  /** The full table: x10 over every target with its diagnostics, x100 over
    * [[X100Targets]], x1000 over the documents-only flagships.
    */
  private def fullRun(run: Run, base: String): String = {
    val x10 = run.decade(10, AllTargets, None)
    val notes = run.diagnostics(base, 1).zip(run.diagnostics(run.dir(10), 10)).map {
      case ((q, sf01), (_, big)) =>
        q -> obj(sf01.map(kv => s"${kv._1}_sf01" -> kv._2) ++ big.map(kv => s"${kv._1}_x10" -> kv._2))
    }
    val x100 = run.decade(100, X100Targets, None)
    val x1000 = run.decade(1000, Seq("pl_dedup_corpus", "dd_line_dedup"), Some(Seq("documents")))
    val (totalS, totalB) = (x10.map(_._2.sf01Sec).sum, x10.map(_._2.bigSec).sum)
    def section(reps: Int, rows: Seq[(String, Row)]) =
      s""""x$reps":{"reps":$reps,"protocol":"${protocol(reps, "lz4")}","queries":${rowsJson(reps, rows)}}"""
    s"""{"reps":10,"base":"$base","protocol":"${protocol(10, "lz4")}",""" +
      s""""notes":${obj(("doc" -> "\"docs/SCALE_CHECK.md\"") +: notes)},""" +
      s""""queries":${rowsJson(10, x10)},""" +
      f""""total_sf01_sec":$totalS%.3f,"total_x10_sec":$totalB%.3f,""" +
      f""""total_slope":${math.log(totalB / totalS) / math.log(10.0)}%.3f,""" +
      s"""${section(100, x100)},${section(1000, x1000)}}"""
  }

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val targeted = args.headOption.map(_.toInt)
    require(targeted.forall(Set(10, 100, 1000)), "usage: ScaleCheck [10|100|1000 [prefixes]]")
    // the targeted x1000 session shuffles with zstd: one lz4 copy of the
    // x1000 edge relation plus its parquet output exceeds the disk
    val codec = if (targeted.contains(1000)) "zstd" else "lz4"
    val spark = graft.core.SessionTuning.local(32, "spark.io.compression.codec" -> codec)
    val run = new Run(spark, baseDir)
    val (artifact, json) = targeted match {
      case Some(reps) =>
        val touches = Targeted.getOrElse(reps, Map.empty[String, String])
        val names = SparkEntry.select(args.lift(1), if (reps == 10) AllTargets else touches.keys)
        val tables = if (reps == 10) None else Some(names.map(touches).distinct)
        val rows = run.decade(reps, names, tables)
        (s"SCALE_CHECK_X$reps.json",
          s"""{"x${reps}_only":true,"reps":$reps,"base":"$baseDir","protocol":"${protocol(reps, codec)}",""" +
            s""""queries":${rowsJson(reps, rows)}}""")
      case None => ("SCALE_CHECK.json", fullRun(run, baseDir))
    }
    println(json)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"${sys.props("user.dir")}/$artifact"), json + "\n")
    spark.stop()
  }
}
