package perfbench

import org.apache.spark.sql.SparkSession

/** Generator determinism check: for every workload the same seed must
  * give byte-identical inputs (equal content hashes) and another seed
  * different ones. Prints one line per workload; exits 1 on a violation.
  * Run by perfbench/test_inputs.py. */
object InputsCheck {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val embedder = new graft.operators.FeatureHashEmbedder(Serve.Model)
    val hashes: Seq[(String, Long => String)] = Seq(
      "serve" -> (s => Serve.inputs(spark, s, embedder).hash),
      "curate" -> (s => Curate.corpus(s).hash))
    val bad = hashes.filterNot { case (name, h) =>
      val (a, b, c) = (h(1L), h(1L), h(2L))
      println(s"$name seed1=$a seed1again=$b seed2=$c")
      a == b && a != c
    }
    spark.stop()
    if (bad.nonEmpty) {
      System.err.println(s"non-deterministic inputs: ${bad.map(_._1)}")
      sys.exit(1)
    }
  }
}
