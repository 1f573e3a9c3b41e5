package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.similarity.Similarity

/** Plan dumper for plans/r14 (not part of the suite): the AQE final plans
  * of the public IVF / IVF-PQ entry points on sf0.001, plus every row
  * they return, so two builds can be compared plan-for-plan and
  * row-for-row.
  *
  * Usage: `Test/runMain graft.tools.IvfPlans <sfDir> <planDir> <tag> <rowsFile>`
  * reads the embeddings of the sf0.001 test-data directory `<sfDir>`,
  * writes `<planDir>/<name>_<tag>.txt` per entry point and all result
  * rows to `<rowsFile>`. */
object IvfPlans {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, planDir, tag, rowsFile) = args
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 5)
    val rows = new StringBuilder
    def plan(qe: QueryExecution): String = qe.explainString(FormattedMode)
    def save(name: String, text: String): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(planDir, s"${name}_$tag.txt"), text.getBytes)
    def dump(name: String, df: DataFrame): Unit = {
      val got = df.collect().sortBy(r =>
        (r.getAs[Long]("query_id"), r.getAs[Int]("rnk")))
      rows ++= s"== $name\n" ++= got.map(_.toString).mkString("\n") ++= "\n"
      save(name, s"# $name on sf0.001, local[4], 4 shuffle partitions: " +
        s"AQE final plan after collect(); ${got.length} rows\n" + plan(df.queryExecution))
    }
    Seq("ivf_plan_idx", "pq_plan_idx", "pq_plan_idx_codebooks")
      .foreach(t => graft.text.Bm25.dropIndexTable(spark, t))

    // the build's write: every query execution the call runs, in order
    val writes = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        writes.synchronized { writes += s"## $f\n" + plan(qe) }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val centers = Similarity.buildIvfIndex(emb, "vec_id", "embedding",
      "ivf_plan_idx", nlist = 16)
    Thread.sleep(2000) // listener events are delivered asynchronously
    spark.listenerManager.unregister(listener)
    save("buildIvfIndex_write", "# buildIvfIndex(nlist=16) on sf0.001: every " +
      "query execution of the call (sampling collect, then the bucketed write)\n" +
      writes.mkString("\n"))
    rows ++= "== centers\n" ++= centers.map(_.mkString(",")).mkString("\n") ++= "\n"

    dump("ivfTopK", Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
      k = 5, nlist = 16, nprobe = 6))
    dump("ivfTopKIndexed", Similarity.ivfTopKIndexed(spark, "ivf_plan_idx",
      centers, queries, "vec_id", "embedding", k = 5, nprobe = 6))
    dump("ivfPqTopK_rerank0", Similarity.ivfPqTopK(emb, queries, "vec_id",
      "embedding", k = 5, nlist = 8, nprobe = 4, m = 8, ksub = 16))
    dump("ivfPqTopK_rerank50", Similarity.ivfPqTopK(emb, queries, "vec_id",
      "embedding", k = 5, nlist = 8, nprobe = 4, m = 8, ksub = 16, rerank = 50))
    val (c, b) = Similarity.buildIvfPqIndex(emb, "vec_id", "embedding",
      "pq_plan_idx", nlist = 8, m = 8, ksub = 16)
    dump("ivfPqTopKIndexed_rerank0", Similarity.ivfPqTopKIndexed(spark,
      "pq_plan_idx", c, b, queries, "vec_id", "embedding", k = 5, nprobe = 4))
    dump("ivfPqTopKIndexed_rerank50", Similarity.ivfPqTopKIndexed(spark,
      "pq_plan_idx", c, b, queries, "vec_id", "embedding", k = 5, nprobe = 4,
      rerank = 50, rerankFrom = Some(emb)))
    java.nio.file.Files.write(java.nio.file.Paths.get(rowsFile), rows.toString.getBytes)
    Seq("ivf_plan_idx", "pq_plan_idx", "pq_plan_idx_codebooks")
      .foreach(t => graft.text.Bm25.dropIndexTable(spark, t))
    spark.stop(); sys.exit(0)
  }
}
