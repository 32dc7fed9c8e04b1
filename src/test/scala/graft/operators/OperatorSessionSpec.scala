package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.Tables.t
import graft.functions.BloomExpressions.bloomMightContain

/** Library operators build their native expressions as Columns: running
  * them registers nothing in the caller's session, and a Column that holds
  * an object (a Bloom filter) is not tied to the session it was built in.
  */
class OperatorSessionSpec extends SparkSpec {

  test("one operator per native-expression family leaves a fresh " +
    "session's function registry unchanged") {
    val s = spark.newSession()
    def functions(): Set[String] =
      s.sessionState.functionRegistry.listFunction().map(_.unquotedString).toSet
    val before = functions()
    val docs = t(s, sfDir, "documents")
    val emb = t(s, sfDir, "embeddings")

    assert(Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.3)
      .count() >= 0L)
    val path = tmpDir("opsession-ivfpq-")
    Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", path,
      nCentroids = 8, m = 8)
    assert(Similarity.queryIvfPqIndex(emb, emb.filter(col("vec_id") < 3),
      "vec_id", "embedding", path, k = 3, nProbe = 4).count() > 0L)
    assert(Decontaminate.contaminatedBloom(docs.filter(col("doc_id") >= 20),
      docs.filter(col("doc_id") < 20), "doc_id", "text").count() >= 0L)
    assert(s.range(16).select(col("id").as("x"), (col("id") * 3).as("y"))
      .select(Layout.hilbert16Key("x", "y")).count() == 16L)
    assert(TextAnalysis.bigramLmScore(docs, "doc_id", "text").count() > 0L)

    val after = functions()
    assert(after == before,
      s"added: ${after -- before}; removed: ${before -- after}")
  }

  test("a bloomMightContain Column built against one session evaluates " +
    "in another") {
    val bf = spark.range(0, 100, 2).stat.bloomFilter("id", 100L, 0.01)
    val probe = bloomMightContain(col("id"), bf)
    val other = spark.newSession()
    val hits = other.range(0, 100).filter(probe).select(col("id"))
      .collect().map(_.getLong(0)).toSet
    // no false negatives; false positives stay near the 1 % rate
    assert((0L until 100L by 2L).toSet.subsetOf(hits))
    assert(hits.size < 60, s"${hits.size} hits for 50 members")
  }
}
