package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.GraftSession

/** One-off attribution harness for x159's residual cost (Test scope):
  * times each stage of clusterCorrectedDsir in isolation at a given SF
  * so the constant can be pinned to signing vs clustering vs the DSIR
  * model vs the final per-source aggregate. */
object X159Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = GraftSession.fromEnv()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = graft.core.Tables.documents(spark, sfDir)
    docs.count() // warm scan

    def time(name: String)(f: => DataFrame): Unit = {
      // best-of-2 through the bench checksum sink (forces all columns)
      val ts = (1 to 2).map { _ =>
        graft.core.Memo.invalidate(spark)
        val t0 = System.nanoTime()
        val df = f
        df.select(xxhash64(struct(df.columns.map(col): _*)).as("h"))
          .agg(expr("bit_xor(h)"), count(lit(1))).collect()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[x159prof] $name%-28s ${ts.min}%8.2fs  (runs: ${ts.map(t => f"$t%.2f").mkString(", ")})")
    }

    time("simhash_sign_only") {
      graft.operators.DedupOps.simhash(docs)
    }
    time("simhash_contraction_pairs") {
      graft.operators.DedupOps.simhashContraction(docs, 3)._3
    }
    time("simhash_clusters") {
      graft.operators.DedupOps.simhashClusters(docs, 3)
    }
    time("guard_audit") {
      graft.operators.DedupOps.simhashGuardAudit(docs)
    }
    time("dsir_weights") {
      graft.operators.CurationOps.dsirWeights(docs)
    }
    time("full_x159") {
      graft.operators.CurationOps.clusterCorrectedDsir(docs)
        .crossJoin(broadcast(
          graft.operators.DedupOps.simhashGuardAudit(docs)))
    }
    spark.stop()
  }
}
