package graftbench

import graft.Tables
import graft.functions.{BitsetFunctions, Bloom, DistanceFunctions, Hll, VectorFunctions, WinnowFunctions}
import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.functions._

/** The traced query_suite run's kernel pass: each `functions` kernel (and
  * the token, SimHash and MinHash frame builders) timed on the suite's rows,
  * with whole-stage codegen on and then off. `in_wscg` reads the executed
  * plan: 1 when every operator evaluating the kernel sits inside a codegen
  * stage, 0 when one does not, -1 when the kernel is not in the plan.
  */
object Kernels {
  final case class Kernel(name: String, marker: String, rows: Long, frame: () => DataFrame)

  /** A plan-independent action over every output column. */
  private def force(df: DataFrame): DataFrame =
    df.agg(max(xxhash64(df.columns.map(col).toIndexedSeq: _*)))

  def inWscg(plan: SparkPlan, marker: String): Int = {
    var found = false
    var all = true
    def walk(p: SparkPlan, inside: Boolean): Unit = p match {
      case w: WholeStageCodegenExec => walk(w.child, inside = true)
      case i: InputAdapter => walk(i.child, inside = false)
      case _ =>
        if (p.expressions.exists(_.find(_.prettyName == marker).isDefined)) {
          found = true
          if (!inside) all = false
        }
        p.children.foreach(walk(_, inside))
    }
    walk(plan, inside = false)
    if (!found) -1 else if (all) 1 else 0
  }

  def run(c: Ctx): List[Map[String, Any]] = {
    val s = c.spark
    Seq(BitsetFunctions.register _, Bloom.register _, DistanceFunctions.register _,
        Hll.register _, VectorFunctions.register _, WinnowFunctions.register _).foreach(_(s))
    val conf = Seq("spark.sql.adaptive.enabled", "spark.sql.codegen.wholeStage")
    val saved = conf.map(k => k -> s.conf.getOption(k))
    s.conf.set("spark.sql.adaptive.enabled", "false")

    // inputs, materialized once so each timing covers the kernel alone; for
    // the row-wise kernels the documents are repeated up to 50k and the
    // vectors and masks are paired with 64 probes each
    val docs0 = Tables.documents(s, c.data).select("doc_id", "text")
    val n0 = docs0.count()
    val reps = math.max(1L, (50000L + n0 - 1) / n0)
    val docs = docs0.crossJoin(s.range(reps).toDF("__r"))
      .select((col("doc_id") * 1000 + col("__r")).as("doc_id"), col("text"))
      .repartition(4).localCheckpoint()
    val nDocs = docs.count()
    val toks = docs.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .localCheckpoint()
    // the aggregating builders (SimHash, MinHash, HLL) run on the
    // documents themselves
    val base = docs0.repartition(4).localCheckpoint()
    val nBase = base.count()
    val tokenRows = Dedup.distinctTokenRows(base, "doc_id", "text").localCheckpoint()
    val nTokenRows = tokenRows.count()
    val emb = Tables.embeddings(s, c.data)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val probes = emb.orderBy("vec_id").limit(64)
      .select(col("vec_id").as("q"), col("embedding").as("qe"))
    val vecPairs = emb.crossJoin(probes).repartition(4).localCheckpoint()
    val nVecPairs = vecPairs.count()
    val masks = Dedup.tokenMasks(Dedup.distinctTokenRows(docs0, "doc_id", "text"), "doc_id")
      .select(col("doc_id"), col("mm").as("mask")).localCheckpoint()
    val maskProbes = masks.orderBy("doc_id").limit(64).select(col("mask").as("mb"))
    val maskPairs = masks.select(col("mask").as("ma")).crossJoin(maskProbes)
      .repartition(4).localCheckpoint()
    val nMaskPairs = maskPairs.count()
    val evalKeys = docs0.filter(col("doc_id") % 10 === 0).select(md5(col("text")).as("h"))
    val filter: Column = Bloom.filterLiteral(evalKeys)

    val kernels = Seq(
      Kernel("cosine_sim", "cosine_sim", nVecPairs,
        () => vecPairs.select(VectorFunctions.cosineSim(col("embedding"), col("qe")).as("r"))),
      Kernel("sq_dist", "sq_dist", nVecPairs,
        () => vecPairs.select(DistanceFunctions.sqDist(col("embedding"), col("qe")).as("r"))),
      Kernel("bitset_intersect", "bitset_intersect", nMaskPairs,
        () => maskPairs.select(BitsetFunctions.bitsetIntersect(col("ma"), col("mb")).as("r"))),
      Kernel("winnow_spans", "winnow_spans", nDocs,
        () => toks.select(WinnowFunctions.winnowSpans(col("toks"), 8, 8).as("r"))),
      Kernel("tokens", "filter", nDocs,
        () => docs.select(TextAnalysis.tokens(col("text")).as("r"))),
      Kernel("simhash", "shiftright", nBase,
        () => Dedup.simhash(base, "doc_id", "text")),
      Kernel("minhash", "md5", nTokenRows,
        () => Dedup.minhashSignatures(tokenRows, "doc_id", 16)),
      Kernel("hll_sketch", "hll_sketch", nTokenRows,
        () => tokenRows.groupBy(col("doc_id") % 16).agg(Hll.sketch(col("token")).as("r"))),
      Kernel("bloom_contains", "bloom_contains", nDocs,
        () => docs.select(Bloom.contains(filter, md5(col("text"))).as("r"))))

    // a fresh plan per timing: re-running one physical plan would reuse
    // its shuffle files and skip the map side
    def timeIt(k: Kernel, wscg: Boolean): (Double, Int) = {
      s.conf.set("spark.sql.codegen.wholeStage", wscg.toString)
      val warm = force(k.frame())
      warm.collect() // compile and warm
      val xs = (1 to 3).map { _ =>
        val f = force(k.frame())
        c.spans.timed("kernel", s"${k.name}${if (wscg) "" else ".nowscg"}", c.root, 0L) { id =>
          c.spark.sparkContext.setJobGroup(s"bench:$id", k.name, interruptOnCancel = false)
          try f.collect() finally c.spark.sparkContext.clearJobGroup()
        }._2
      }.sorted
      (xs(1), inWscg(warm.queryExecution.executedPlan, k.marker))
    }

    try kernels.toList.map { k =>
      val (on, flag) = timeIt(k, wscg = true)
      val (off, _) = timeIt(k, wscg = false)
      Map[String, Any]("name" -> k.name, "rows" -> k.rows, "s" -> on,
        "s_nowscg" -> off, "in_wscg" -> flag)
    } finally saved.foreach { case (k, v) => v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
  }
}
