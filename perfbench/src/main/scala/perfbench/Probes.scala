package perfbench

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.functions.{call_function, col, concat, explode, expr, lit, reverse, sequence}

import graft.{GraftExtensions, Tables}
import graft.functions.{HyperplaneBits, MinhashSignature, SimhashBits}
import perfbench.Harness._

/** Layer probes every traced run makes, timed through public entry points:
  * `Tables.canonical` per table (schema cache cold and warm) and each
  * native kernel alone over a fixed input column. */
object Probes {

  /** Mean milliseconds per `Tables.canonical` call: cold on a fresh
    * session (empty schema cache), then warm on the same session. */
  def tables(s: SparkSession, a: Args, r: Result, t: Tracer): Unit = {
    val dir = s"${a.work}/data"
    val fresh = s.newSession()
    GraftExtensions.register(fresh)
    def timeAll(tag: String) = Tables.names.map { n =>
      t.span(s"Tables.canonical.$tag:$n") {
        val t0 = now()
        Tables.canonical(fresh, dir, n).schema
        secs(t0) * 1000
      }
    }
    r.metric("Tables.load_cold_ms", timeAll("cold").sum / Tables.names.size, "ms")
    r.metric("Tables.load_ms", timeAll("warm").sum / Tables.names.size, "ms")
  }

  private def native(e: Column => org.apache.spark.sql.catalyst.expressions.Expression)
                    (c: Column): Column =
    GraftColumnBridge.column(e(c))
  private def catalyst(c: Column) = GraftColumnBridge.expression(c)

  /** Each kernel over its input, computed with the `noop` sink: mean of
    * two after one warm run. Inputs are materialized first so the timed
    * job is the kernel plus a scan. */
  def kernels(s: SparkSession, a: Args, r: Result, t: Tracer): Unit = {
    val dir = s"${a.work}/data"
    // 20 copies of the documents / embeddings, so per-row kernel work
    // outweighs the job's fixed cost
    val copies = explode(sequence(lit(1), lit(20)))
    val docs = Tables.documents(s, dir).select(col("text"), copies.as("copy"))
      .select(concat(col("text"), lit(" "), col("copy").cast("string")).as("text"))
      .withColumn("hashes", expr("transform(split(text, ' ', -1), x -> xxhash64(x))"))
      .localCheckpoint(true)
    val embs = Tables.embeddings(s, dir).select(col("embedding"), copies.as("copy"))
      .localCheckpoint(true)
    val planes = Seq.tabulate(64, 64)((i, j) => math.sin(i * 64.0 + j))
    val probes: Seq[(String, DataFrame)] = Seq(
      "cosine_sim" -> embs.select(call_function("cosine_sim", col("embedding"),
        reverse(col("embedding")))),
      "shingle_md5s" -> docs.select(call_function("shingle_md5s", col("text"), lit(5))),
      "winnow_fingerprints" -> docs.select(
        call_function("winnow_fingerprints", col("text"), lit(20), lit(8))),
      "minhash" -> docs.select(native(c => MinhashSignature(catalyst(c), 64))(col("hashes"))),
      "simhash" -> docs.select(native(c => SimhashBits(catalyst(c)))(col("hashes"))),
      "hyperplane_bits" -> embs.select(native(c => HyperplaneBits(catalyst(c), planes))(col("embedding"))))
    probes.foreach { case (name, df) =>
      def once() = df.write.format("noop").mode("overwrite").save()
      once()
      val times = (1 to 2).map { _ =>
        t.span(s"functions.$name") {
          val t0 = now(); once(); secs(t0)
        }
      }
      r.metric(s"functions.${name}_s", times.sum / times.size, "s")
    }
    releaseCached(s)
  }
}
