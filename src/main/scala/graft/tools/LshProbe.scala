package graft.tools

import graft.pipeline.Similarity
import org.apache.spark.sql.functions._

/** ANN-LSH capacity probe: shows measured candidate-pair volume tracking
  * the bucket-occupancy bound Σ n·(n−1)/2 (over (table, bucket) cells),
  * NOT the N²/2 cartesian — the scaling property that makes the bucketed
  * path the 100 TB shape. Prints one JSON line per corpus size.
  *
  * Usage: LshProbe [sfDir] [tables] [bitsPerTable]
  */
object LshProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val tables = args.lift(1).map(_.toInt).getOrElse(4)
    val bits = args.lift(2).map(_.toInt).getOrElse(8)
    val spark = graft.GraftSession.get(appName = "graft-lsh-probe")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val total = emb.count()

    for (n <- Seq(total / 4, total / 2, total).distinct) {
      val sub = emb.where(col("vec_id") < n)
      val cand = Similarity.lshCandidatePairs(sub, "vec_id", "embedding",
        tables, bits, dims = Some(64)).count()
      val bound = Similarity.lshBucketStats(sub, "vec_id", "embedding", tables, bits, dims = Some(64))
        .agg(sum(col("n") * (col("n") - 1)).as("s")).head().getLong(0) / 2
      val cartesian = n * (n - 1) / 2
      println(f"""{"n":$n,"tables":$tables,"bits":$bits,"candidates":$cand,"bucket_bound":$bound,"cartesian":$cartesian,"vs_cartesian":${cand.toDouble / cartesian}%.4f}""")
    }
    spark.stop()
  }
}
