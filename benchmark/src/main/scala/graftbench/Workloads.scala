package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable

import graft.Tables
import graft.pipeline.{CorpusJob, CorpusStream}
import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `query_suite`: the selected `SparkEntry.queries` entries, one cold pass,
  * then warm passes; each pass runs the queries in a seeded order. Each
  * query's timed call is the query function plus one action that reads
  * every output column (the content hash the check compares).
  */
object QuerySuite {
  val Modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "Ref" -> RefQueries.defs, "Core" -> CoreQueries.defs, "Event" -> EventQueries.defs,
    "Text" -> TextQueries.defs, "Similarity" -> SimilarityQueries.defs,
    "Dedup" -> DedupQueries.defs, "Misc" -> MiscQueries.defs,
    "Analytics" -> AnalyticsQueries.defs, "Join" -> JoinQueries.defs,
    "Multimodal" -> MultimodalQueries.defs, "Sampling" -> SamplingQueries.defs,
    "Sketch" -> SketchQueries.defs, "Graph" -> GraphQueries.defs)

  val Tbls = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "documents", "embeddings")

  def memoStats: Map[String, String] = Map(
    "pairs" -> DedupQueries.pairsMemoStats, "tf" -> TextQueries.tfMemoStats,
    "bpe" -> TextQueries.bpeMemoStats, "bg" -> TextQueries.bgMemoStats,
    "clf" -> TextQueries.clfMemoStats, "dsir" -> SamplingQueries.dsirMemoStats,
    "ann" -> SimilarityQueries.annMemoStats, "mm" -> MultimodalQueries.mmMemoStats,
    "graph" -> GraphQueries.graphMemoStats)

  def run(c: Ctx): Unit = {
    val all = Modules.flatMap { case (m, defs) =>
      defs.toSeq.map { case (n, f) => n -> (m, f) }
    }.toMap
    val names = c.args.s("queries").split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")

    // set-up: open every table on a fresh path alias, so each repetition
    // pays file listing and footer reads again
    var dir = ""
    c.setup("tables.open") { i =>
      val alias = c.work.resolve(s"sf-$i")
      Files.deleteIfExists(alias)
      Files.createSymbolicLink(alias, java.nio.file.Paths.get(c.data).toAbsolutePath)
      dir = alias.toString
      Tbls.foreach(t => Tables.table(c.spark, dir, t).count())
      Tables.events(c.spark, dir).count()
    }

    def pass(p: Int): Unit =
      Bench.permute(names, c.seed * 7919L + p).foreach { n =>
        val (module, f) = all(n)
        c.op(n, module, p, "query") { _ =>
          val df = f(c.spark, dir)
          // reference recording keeps the outputs for the offline checks
          c.args.m.get("dump").foreach(d => df.write.mode("overwrite").parquet(s"$d/$n"))
          val (rows, h) = Bench.contentHash(df)
          Map("rows" -> rows, "hash" -> h)
        }(Map.empty)
      }

    c.args.m.get("dump").foreach { d =>
      Files.createDirectories(java.nio.file.Paths.get(d))
      Files.write(java.nio.file.Paths.get(d, "oracle_sql.json"), Json(
        graft.SparkEntry.oracleSql.filter(q => names.contains(q._1))).getBytes("UTF-8"))
    }
    val memo = mutable.ArrayBuffer(memoStats)
    c.passes { p =>
      pass(p)
      if (p == 0) memo += memoStats
    }
    memo += memoStats
    c.extra("memo") = memo.toList
  }
}

/** `corpus`: the rolling curation of the sf0.1 documents. Set-up lands the
  * documents as ascending-`doc_id` parquet batches with seeded boundaries
  * and a seeded row order inside each, one file per trigger;
  * `CorpusStream.run` then drains the landing zone into fresh state in a
  * cold JVM. Its final published corpus must equal
  * `CorpusJob.execute` over the same documents: the reference value, which
  * `record_reference.py` records with `--batch true`, running the batch job
  * first (with the documents' rows permuted across files by the seed) and
  * comparing the two outputs in-process. With tracing on, the drain runs
  * the per-epoch calls `run` makes (`ingest`, `publish`, `vacuum`) from the
  * benchmark's own `foreachBatch`, so each gets its own span and job group.
  */
object Corpus {
  val Schema = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"

  /** Two epochs: the second runs on the standing state the first wrote. An
    * epoch costs 20 to 30 s whatever its size, so a run affords no more.
    */
  val Batches = 2

  def funnel(f: CorpusJob.Funnel): Map[String, Any] = Map(
    "input" -> f.input, "exact_kept" -> f.exactKept, "bow_kept" -> f.bowKept,
    "near_kept" -> f.nearKept, "clean_kept" -> f.cleanKept,
    "fuzzy_kept" -> f.fuzzyKept, "mm_kept" -> f.mmKept,
    "span_cut_docs" -> f.spanCutDocs, "screened_kept" -> f.screenedKept,
    "quality_kept" -> f.qualityKept, "budget_kept" -> f.budgetKept,
    "mix_kept" -> f.mixKept, "diverse_kept" -> f.diverseKept,
    "n_bins" -> f.nBins, "per_split" -> f.perSplit)

  /** Cut points near equal shares, each moved by up to a fifth of a share. */
  def cuts(n: Int, batches: Int, seed: Long): Seq[Int] = {
    val share = n.toDouble / batches
    val rnd = new scala.util.Random(seed)
    (1 until batches).map { i =>
      val j = ((rnd.nextDouble() * 2 - 1) * share / 5).round.toInt
      math.min(n - 1, math.max(1, (i * share).round.toInt + j))
    }
  }

  /** Lands the batches; returns how many. */
  def land(c: Ctx, docs: DataFrame, dir: Path, batches: Int): Int = {
    val ids = docs.select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val bounds = (0 +: cuts(ids.length, batches, c.seed) :+ ids.length).distinct.sorted
    Files.createDirectories(dir)
    val tmp = c.work.resolve("landing-tmp")
    val base = System.currentTimeMillis() - 1000000L
    bounds.sliding(2).zipWithIndex.foreach { case (Seq(lo, hi), b) =>
      // rows inside a batch in seeded order; batches ascend in doc_id
      docs.filter(col("doc_id") >= ids(lo) && col("doc_id") <= ids(hi - 1))
        .orderBy(xxhash64(col("doc_id"), lit(c.seed))).coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      val dest = dir.resolve(f"batch-$b%04d.parquet")
      Files.move(part, dest, StandardCopyOption.REPLACE_EXISTING)
      // the file source orders new files by modification time
      dest.toFile.setLastModified(base + b * 1000L)
    }
    bounds.length - 1
  }

  def run(c: Ctx): Unit = {
    var input = ""
    var landing = c.work
    c.setup("land") { i =>
      val root = c.work.resolve(s"corpus-$i")
      input = root.resolve("input").toString
      landing = root.resolve("landing")
      c.extra("batches_landed") = land(c, Tables.documents(c.spark, c.data), landing, Batches)
    }
    c.extra("landing_bytes") = Bench.dirBytes(landing)._1

    var batchHash: Option[(Long, String)] = None
    if (c.args.m.get("batch").contains("true")) {
      val docs = Tables.documents(c.spark, c.data)
      docs.withColumn("__k", xxhash64(col("doc_id"), lit(c.seed)))
        .repartitionByRange(4, col("__k")).sortWithinPartitions("__k").drop("__k")
        .write.mode("overwrite").parquet(s"$input/documents.parquet")
      val batchOut = c.work.resolve("batch-out").toString
      c.op("CorpusJob.execute", "CorpusJob", 0, "pipeline") { _ =>
        val (_, f) = CorpusJob.execute(c.spark, CorpusJob.Config(input = input, out = batchOut))
        Map("funnel" -> funnel(f))
      } {
        val h = Bench.contentHash(c.spark.read.parquet(batchOut))
        batchHash = Some(h)
        Map("rows" -> h._1, "hash" -> h._2)
      }
    }

    val warehouse = java.nio.file.Paths.get(
      new java.net.URI(c.spark.conf.get("spark.sql.warehouse.dir")).getPath)
    val n = CorpusStream.names("bench_stream")
    val out = c.work.resolve("stream-out").toString
    val cfg = CorpusJob.Config(input = landing.toString, out = out)
    val src = c.spark.readStream.schema(Schema)
      .option("maxFilesPerTrigger", 1).parquet(landing.toString)
    val epochs = mutable.ArrayBuffer.empty[Map[String, Any]]
    c.op("CorpusStream.run", "CorpusStream", 0, "pipeline") { opId =>
      val q = if (c.trace) tracedRun(c, src, cfg, n, opId, epochs, warehouse)
              else CorpusStream.run(src, cfg, n)
      try q.processAllAvailable() finally q.stop()
      q.exception.foreach(e => throw e)
      Map("run_id" -> q.runId.toString)
    } {
      val (rows, h) = Bench.contentHash(c.spark.read.parquet(out))
      val (bytes, files) = stateSize(n, warehouse)
      Map("rows" -> rows, "hash" -> h, "equals_batch" -> batchHash.map(_ == ((rows, h))),
        "state_bytes" -> bytes, "state_files" -> files, "epochs_traced" -> epochs.toList)
    }
  }

  def stateSize(n: CorpusStream.StateNames, warehouse: Path): (Long, Long) =
    Seq(n.hashes, n.bows, n.raw, n.sims, n.comps, n.block, n.evals, n.meta)
      .map(t => Bench.dirBytes(warehouse.resolve(t.toLowerCase)))
      .foldLeft((0L, 0L)) { case ((a, b), (x, y)) => (a + x, b + y) }

  /** The per-epoch body of `CorpusStream.run` (ingest, publish, vacuum),
    * each call under its own span and job group.
    */
  private def tracedRun(c: Ctx, src: DataFrame, cfg: CorpusJob.Config,
                        n: CorpusStream.StateNames, opId: Long,
                        epochs: mutable.ArrayBuffer[Map[String, Any]],
                        warehouse: Path) =
    src.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val s = batch.sparkSession
      val sc = s.sparkContext
      val prev = Option(sc.getLocalProperty("spark.jobGroup.id"))
      c.spans.timed("epoch", s"epoch $batchId", opId, opId) { eid =>
        // the stream stamps every job with the query's start site; clear
        // it so stage names carry the program's own call sites
        def step(name: String)(f: => Unit): Double =
          c.spans.timed("stream", name, eid, opId) { sid =>
            sc.setJobGroup(s"bench:$sid", name, interruptOnCancel = false)
            sc.clearCallSite()
            try f finally sc.clearJobGroup()
          }._2
        val ti = step("ingest")(CorpusStream.ingest(s, batch, n, batchId))
        val tp = step("publish")(CorpusStream.publish(s, n, cfg))
        val tv = step("vacuum")(CorpusStream.vacuum(s, n))
        val (bytes, files) = stateSize(n, warehouse)
        epochs += Map("batch" -> batchId, "ingest_s" -> ti, "publish_s" -> tp,
          "vacuum_s" -> tv, "state_bytes" -> bytes, "state_files" -> files)
      }
      prev.foreach(g => sc.setJobGroup(g, "", interruptOnCancel = true))
    }.start()
}
