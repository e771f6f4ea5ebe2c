package graft

class Bm25Spec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "spark join shuffle exchange plan"),
    (1L, "spark scan filter pushdown"),
    (2L, "merge table snapshot delta"),
    (3L, "join merge spark table"),
    (4L, "window frame rank dense"))
    .toDF("doc_id", "text")

  private val terms = Seq((0L, "spark"), (0L, "join"), (1L, "merge"))
    .toDF("query_id", "t")

  test("bm25Scores: candidate restriction commutes with the pair aggregation") {
    val full = Queries.bm25Scores(docs, terms)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val cand = Seq((0L, 0L), (0L, 3L), (1L, 2L)).toDF("query_id", "doc_id")
    val restricted = Queries.bm25Scores(docs, terms, Some(cand))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(restricted.keySet == Set((0L, 0L), (0L, 3L), (1L, 2L)),
      "exactly the candidate pairs that share a term survive")
    restricted.foreach { case (k, v) =>
      assert(v == full(k), s"restricted score for $k must equal the exhaustive one")
    }
  }

  test("bm25Scores: candidates sharing no query term score nothing") {
    val cand = Seq((0L, 4L)).toDF("query_id", "doc_id") // doc 4 has no query term
    assert(Queries.bm25Scores(docs, terms, Some(cand)).count() == 0L)
  }

  test("bm25Scores: a doc matching more query terms outranks a one-term doc") {
    val full = Queries.bm25Scores(docs, terms)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(full((0L, 0L)) > full((0L, 1L)),
      "doc 0 matches spark AND join for query 0; doc 1 only spark")
  }
}
