package graft

import org.apache.spark.sql.SparkSession

/** Dev-only probe (r15): INTERLEAVED config A/B sweep. Separate-JVM bench
  * runs at sf0.1 showed ~30% run-to-run swing on subsets (JIT state, page
  * cache, host drift), which drowns any config delta below 1.3×. This
  * probe times every (config, query) pair in ONE JVM with configs
  * interleaved per repetition — rep 1 runs A,B,C, rep 2 runs A,B,C, … —
  * so slow drift hits all configs equally, and reports the per-pair MIN
  * across reps (discarding first-execution codegen, same discipline as
  * Bench's min-of-2).
  *
  * Env:
  *   SPARK_GRAFT_SWEEP       configs, `;`-separated; each is
  *                           `label|sparkKey=value|sparkKey=value…`
  *                           (empty value unsets the key). Values may
  *                           contain `,`/`:` but not `|`/`;`.
  *   SPARK_GRAFT_ONLY        query filter, same semantics as Bench.
  *   SPARK_GRAFT_SWEEP_REPS  repetitions (default 3).
  *
  * Run: SPARK_GRAFT_CPUS=32 SPARK_GRAFT_SWEEP='base;aqe_off|spark.sql.adaptive.enabled=false' \
  *        sbt "Test/runMain graft.SweepProbe"
  */
object SweepProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_SWEEP_REPS", "3").toInt
    val spark = GraftSession.local(cpus, cpus)

    case class Config(label: String, sets: Seq[(String, String)])
    val configs: Seq[Config] = sys.env.getOrElse("SPARK_GRAFT_SWEEP", "base")
      .split(';').toSeq.map { s =>
        val parts = s.split('|').toSeq
        Config(parts.head.trim, parts.tail.map { kv =>
          val i = kv.indexOf('=')
          (kv.take(i).trim, kv.drop(i + 1).trim)
        })
      }
    // every key any config touches, so switching configs restores defaults
    val allKeys = configs.flatMap(_.sets.map(_._1)).distinct
    val baseline = allKeys.map(k => k -> spark.conf.getOption(k)).toMap

    def applyConfig(c: Config): Unit = {
      allKeys.foreach { k =>
        baseline(k) match {
          case Some(v) => spark.conf.set(k, v)
          case None => try spark.conf.unset(k) catch { case _: Throwable => () }
        }
      }
      c.sets.foreach { case (k, v) =>
        if (v.isEmpty) { try spark.conf.unset(k) catch { case _: Throwable => () } }
        else spark.conf.set(k, v)
      }
    }

    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      only.forall(_.exists(p => n == p || n.startsWith(p)))
    }
    println(s"[sweep] ${configs.size} configs x ${selected.size} queries x $reps reps at local[$cpus]")

    Bench.warmup(spark, sfDir)

    def runOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      Bench.materialize(fn(spark, sfDir))
      (System.nanoTime() - t0) / 1e9
    }

    val best = scala.collection.mutable.Map[(String, String), Double]()
    for (r <- 1 to reps; c <- configs) {
      applyConfig(c)
      selected.foreach { case (name, fn) =>
        try {
          val t = runOnce(fn)
          val k = (c.label, name)
          best(k) = math.min(best.getOrElse(k, Double.MaxValue), t)
        } catch { case e: Throwable =>
          System.err.println(s"[sweep] ${c.label}/$name failed: ${e.getMessage}")
        }
        CacheScope.release(spark)
      }
      System.err.println(s"[sweep] rep $r done")
    }

    // report: per-config totals of per-query mins, then a per-query table
    val labels = configs.map(_.label)
    println(f"${"query"}%-42s " + labels.map(l => f"$l%12s").mkString)
    selected.foreach { case (name, _) =>
      val cells = labels.map(l => best.get((l, name))
        .map(t => f"$t%12.3f").getOrElse(f"${"-"}%12s"))
      println(f"$name%-42s " + cells.mkString)
    }
    val totals = labels.map(l => selected.flatMap { case (n, _) =>
      best.get((l, n)) }.sum)
    println(f"${"TOTAL(min)"}%-42s " + totals.map(t => f"$t%12.3f").mkString)
    spark.stop()
  }
}
