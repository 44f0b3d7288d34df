package graftbench

import org.apache.spark.sql.DataFrame

import graft.GraftSession
import graft.tools.GenData

/**
 * Base inputs of every workload, generated once per checkout with graft's
 * own generator: the sf0.1 warehouse (`GenData 0.1`) and the sf1 corpus
 * tables (`GenData 1.0`'s documents and embeddings, written the way its
 * main writes them). Seeded workload inputs are cut from these by run.py.
 * Usage: graftbench.Prepare <outDir> <cpus>
 */
object Prepare {
  def main(args: Array[String]): Unit = {
    val Array(out, cpus) = args
    GenData.main(Array("0.1", s"$out/sf0.1"))
    val spark = GraftSession.get(s"local[$cpus]", cpus.toInt)
    def w(df: DataFrame, name: String): Unit =
      df.repartition(16).write.mode("overwrite").parquet(s"$out/sf1/$name.parquet")
    w(GenData.documents(spark, 50000L), "documents")
    w(GenData.embeddings(spark, 20000L), "embeddings")
    spark.stop()
  }
}
