package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool: time PqIndex.fit on the ScaleSmoke 50k x 32-dim synthetic
  * vector corpus and print a codebook checksum — the before/after harness
  * for the round-12 fused-Lloyd rewrite (one pass per iteration updating
  * all m codebooks vs the m-way sequential loop). The checksum proves the
  * rewrite is bit-identical; the wall times go to COVERAGE.md. */
object FitBench {
  def main(args: Array[String]): Unit = {
    val rows = if (args.nonEmpty) args(0).toLong else 50000L
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    val dim = 32
    val vecs = spark.range(rows).toDF("vec_id")
      .select(col("vec_id"), array((0 until dim).map(i =>
        (pmod(hash(col("vec_id") * (i + 7)), lit(1000)) / lit(1000.0)).cast("float")): _*)
        .as("embedding"))
      .persist()
    vecs.count()
    def run(m: Int, ksub: Int, iters: Int): Unit = {
      val t0 = System.nanoTime()
      val model = graft.operators.PqIndex.fit(vecs, "vec_id", "embedding", m, ksub, iters)
      val sec = (System.nanoTime() - t0) / 1e9
      val digest = java.security.MessageDigest.getInstance("SHA-256")
      for (j <- model.codebooks.indices; c <- model.codebooks(j).indices;
           v <- model.codebooks(j)(c))
        digest.update(java.nio.ByteBuffer.allocate(8).putLong(v).array())
      val hash = digest.digest().take(8).map("%02x".format(_)).mkString
      println(f"fit m=$m ksub=$ksub iters=$iters rows=$rows: $sec%.2f s  codebooks sha=$hash")
    }
    run(m = 4, ksub = 16, iters = 3)
    run(m = 8, ksub = 64, iters = 3)
    run(m = 16, ksub = 16, iters = 3)
    spark.stop()
  }
}
