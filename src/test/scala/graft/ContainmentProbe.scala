package graft

import org.apache.spark.sql.functions._

/** Dev-only (r14): stage-level cost split of q_d_containment_pairs —
  * index build vs self-join/groupBy vs the sizes joins.
  */
object ContainmentProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus, cpus)
    val dir = "/root/testdata/sf0.1"
    val docs = Tables(spark, dir, "documents")
    def t(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val n1 = f
      val t1 = System.nanoTime(); val n2 = f
      val t2 = System.nanoTime()
      println(f"$name%-40s run1 ${(t1 - t0) / 1e9}%6.2f  run2 ${(t2 - t1) / 1e9}%6.2f  (n=$n1/$n2)")
    }
    import graft.dedup.NearDup
    t("index build (capped 64) count") {
      val d = NearDup.docShingles(docs, "doc_id", "text", 3, Some(64))
      val n = d.count(); CacheScope.release(spark); n
    }
    t("index + self-join + groupBy count") {
      val d = NearDup.docShingles(docs, "doc_id", "text", 3, Some(64))
      val inter = d.alias("a").join(d.alias("b"),
          col("a.shingle") === col("b.shingle") &&
            col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_common"))
      val n = inter.count(); CacheScope.release(spark); n
    }
    t("full containmentPairs count") {
      val n = NearDup.containmentPairs(docs, "doc_id", "text", 3, 0.8,
        maxDocsPerShingle = Some(64)).count()
      CacheScope.release(spark); n
    }
    spark.stop()
  }
}
