package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.queries.StateMemo
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** The query memo registry: nested builds, exact hit/miss counts, pair
  * eviction that frees the evicted checkpoints, and content-keyed
  * validity (a rewritten input dir rebuilds instead of serving stale rows).
  */
class StateMemoSpec extends SparkSpec {

  private def tempDir(): String = Files.createTempDirectory("graft-memo").toString

  private def rddIds(df: DataFrame): Seq[Int] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }

  test("a build may call another memo of the same registry") {
    val d = tempDir()
    val v = StateMemo("spec.outer", spark, d) {
      StateMemo("spec.inner", spark, d)(20) + StateMemo("spec.inner", spark, d)(1)
    }
    assert(v === 40)
    assert(StateMemo("spec.outer", spark, d)(-1) === 40)
    assert(StateMemo.counts("spec.outer") === ((1L, 1L)))
    assert(StateMemo.counts("spec.inner") === ((1L, 1L)))
  }

  test("hit and miss counts are exact over a scripted call sequence") {
    val d = tempDir()
    var builds = 0
    def a() = StateMemo("spec.a", spark, d) { builds += 1; "a" }
    def b() = StateMemo("spec.b", spark, d) { builds += 1; "b" }
    a(); a(); b(); a(); b()
    assert(builds === 2)
    assert(StateMemo.counts("spec.a") === ((2L, 1L)))
    assert(StateMemo.counts("spec.b") === ((1L, 1L)))
    assert(StateMemo.stats("spec.a", "spec.b") === "3/2")
    assert(StateMemo.summary("spec.a", "spec.b") === "spec.a=2/1,spec.b=1/1")
    // a failed build is not memoized: the next call builds again
    intercept[IllegalStateException](
      StateMemo[String]("spec.c", spark, d)(throw new IllegalStateException("boom")))
    assert(StateMemo("spec.c", spark, d)("c") === "c")
    assert(StateMemo.counts("spec.c") === ((0L, 2L)))
    // flag off, `shared` builds afresh and leaves the registry alone
    assert(StateMemo.shared("spec.d", spark, d) { builds += 1; 1 } === 1)
    assert(StateMemo.shared("spec.d", spark, d) { builds += 1; 1 } === 1)
    assert(builds === 4 && StateMemo.counts("spec.d") === ((0L, 0L)))
  }

  test("eviction frees the other pairs' checkpoints and keeps the current pair's siblings") {
    val dirs = Seq.fill(4)(tempDir())
    def frame(name: String, d: String): DataFrame =
      StateMemo(name, spark, d)(spark.range(10).toDF("id").localCheckpoint(true))
    StateMemo.clear()
    // three pairs held: no eviction yet
    val old = dirs.take(3).map(frame("spec.frame", _))
    val persisted = () => spark.sparkContext.getPersistentRDDs.keySet
    assert(old.flatMap(rddIds).forall(persisted().contains))
    // a fourth pair, then a sibling on it: four pairs held, so the other
    // three pairs are dropped and their checkpoint RDDs unpersisted
    val cur = frame("spec.frame", dirs(3))
    val sib = frame("spec.sibling", dirs(3))
    assert(old.flatMap(rddIds).forall(id => !persisted().contains(id)))
    assert((rddIds(cur) ++ rddIds(sib)).forall(persisted().contains))
    val before = StateMemo.counts("spec.frame")
    assert(frame("spec.frame", dirs(3)) eq cur)
    assert(StateMemo.counts("spec.frame") === ((before._1 + 1, before._2)))
    assert(cur.count() === 10L && sib.count() === 10L)
  }

  test("a rewritten input dir rebuilds instead of serving the stale memo") {
    // the benchmark reads its tables through a symlinked alias: the
    // content fingerprint must see the target's files through it
    val work = Files.createTempDirectory("graft-stale")
    val data = Files.createDirectory(work.resolve("data"))
    Files.list(java.nio.file.Paths.get(sf())).iterator.asScala
      .foreach(f => Files.copy(f, data.resolve(f.getFileName)))
    val alias = Files.createSymbolicLink(work.resolve("sf-0"), data).toString
    def run(q: String) = SparkEntry.queries(q)(spark, alias)
      .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    val q = "text_tfidf"
    spark.conf.set("spark.graft.dedup.sharePairs", "true")
    val (stale, fresh) = try {
      val before = run(q)
      val docs: Path = data.resolve("documents.parquet")
      val kept = Tables.documents(spark, alias).filter(col("doc_id") % 2 === 0)
      val rows = kept.collect().toList.asJava
      Files.delete(docs)
      spark.createDataFrame(rows, kept.schema).write.parquet(docs.toString)
      (before, run(q))
    } finally spark.conf.unset("spark.graft.dedup.sharePairs")
    val expected = run(q)
    assert(expected !== stale, "the rewrite must change the query result")
    assert(fresh === expected, "sharePairs served the pre-rewrite memo")
  }
}
