package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Generated corpora on each side of the `Dedup.setSimJoinPairs` cost
  * gate. */
object SetSimCorpora {

  /** 150 documents of 20-50 words from a 3,000-word random vocabulary;
    * every fifth is a copy of its predecessor with three words
    * replaced. Shingles are nearly all distinct, so the gate keeps the
    * prefix path. */
  def diverse(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(278)
    val vocab = Vector.fill(3000)(
      Seq.fill(4 + rnd.nextInt(5))(('a' + rnd.nextInt(26)).toChar).mkString)
    def word() = vocab(rnd.nextInt(vocab.size))
    val texts = (0 until 150).foldLeft(Vector.empty[Vector[String]]) { (acc, i) =>
      if (i % 5 == 4) {
        val prev = acc.last
        acc :+ (0 until 3).foldLeft(prev)((ws, _) => ws.updated(rnd.nextInt(ws.size), word()))
      } else acc :+ Vector.fill(20 + rnd.nextInt(31))(word())
    }
    texts.zipWithIndex.map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
      .toDF("doc_id", "text")
  }

  /** 200 documents: 197 of 10-100 words from a 30-word vocabulary (the
    * documents fixture's shape), one exact copy (3, 197), and two
    * documents at exactly Jaccard 0.5 (198, 199: a shared 8-char core
    * gives 4 common shingles, each adds 2 of its own). About 2,000
    * distinct shingles fill every prefix, so the gate takes the blocked
    * path. */
  def lowDiversity(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = Vector("the", "data", "model", "train", "token", "spark",
      "query", "table", "join", "index", "shard", "batch", "merge", "score",
      "label", "graph", "node", "edge", "cache", "plan", "stage", "task",
      "row", "column", "hash", "sketch", "filter", "window", "sort", "rank")
    val texts = (0 until 197).map(i => (i.toLong,
      Seq.fill(10 + rnd.nextInt(91))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
    (texts ++ Seq((197L, texts(3)._2), (198L, "ABCDEFGHIJ"), (199L, "ABCDEFGHKL")))
      .toDF("doc_id", "text")
  }
}
