package graft.join

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Edit-distance (fuzzy) self-join — entity-resolution extension of
  * the join family ([[AsOfJoin]], [[RangeJoin]]) — by deletion
  * neighborhoods (FastSS): each string emits every variant reachable by
  * deleting up to `maxDist` characters, and two strings within edit
  * distance d ALWAYS share a key in their ≤d-deletion neighborhoods.
  * Candidates sharing a key pass a length band (|len(a) − len(b)| ≤
  * maxDist — a true lower bound on edit distance) and are verified with
  * `levenshtein` (codegen'd built-in, no UDF).
  *
  * Unlike prefix blocking, recall is complete and no distribution
  * degenerates into one block. The q107 lesson: sequential entity
  * names ("Supplier#000000001"…) share their whole prefix, so ANY
  * fixed prefix key collapses to a single O(n²) block; deletion keys
  * differ wherever the strings differ, keeping candidates proportional
  * to true near-matches.
  */
object FuzzyJoin {

  /** ≤`maxDist`-deletion variants of `textCol` as join keys: output
    * (idOut, textOut, lenOut, __key). 0 is the keep-as-is sentinel;
    * i in 1..len deletes char i (1-based); d=2 applies a second
    * deletion at j ≥ i on the shortened string (every unordered
    * original-position pair (p, q>p) is reachable as i=p, j=q−1). */
  private def deletionKeys(df: DataFrame, id: String, text: String,
                           maxDist: Int, idOut: String, textOut: String,
                           lenOut: String): DataFrame = {
    val s = col(textOut)
    val keyed = df
      .select(col(id).as(idOut), col(text).as(textOut),
        length(col(text)).as(lenOut))
      .withColumn("__i", explode(sequence(lit(0), col(lenOut))))
      .withColumn("__k1",
        when(col("__i") === 0, s).otherwise(
          concat(substring(s, lit(1), col("__i") - 1),
            substring(s, col("__i") + 1, col(lenOut)))))
    if (maxDist == 1)
      keyed.select(col(idOut), col(textOut), col(lenOut),
        col("__k1").as("__key"))
    else keyed
      .withColumn("__j",
        explode(sequence(lit(0), greatest(length(col("__k1")), lit(0)))))
      .filter(col("__j") === 0 || col("__j") >= col("__i"))
      .select(col(idOut), col(textOut), col(lenOut),
        when(col("__j") === 0, col("__k1")).otherwise(
          concat(substring(col("__k1"), lit(1), col("__j") - 1),
            substring(col("__k1"), col("__j") + 1,
              length(col("__k1"))))).as("__key"))
      .distinct()
  }

  /** Self-join `df` on fuzzy equality of `text`: pairs (id_a, id_b,
    * text_a, text_b, dist INT) with id_a < id_b and levenshtein ≤
    * `maxDist` (1 or 2). `id` must be unique per row.
    *
    * Costs: the key explode carries n·(L+1) short strings (d=1, ~L²/2
    * at d=2) through one shuffle — linear in data; candidate dedup is
    * a distinct on (id_a, id_b, text_a, text_b). A hot deletion key is
    * many strings genuinely within 2·d edits of each other
    * (true-positive-dense). */
  def selfDeletionNeighborhood(df: DataFrame, id: String, text: String,
                               maxDist: Int): DataFrame = {
    require(maxDist == 1 || maxDist == 2,
      s"selfDeletionNeighborhood supports maxDist 1 or 2, got $maxDist " +
        "(the deletion neighborhood grows C(len, d) with the distance)")
    val a = deletionKeys(df, id, text, maxDist, "id_a", "text_a", "__len_a")
    val b = a.select(col("id_a").as("id_b"), col("text_a").as("text_b"),
      col("__len_a").as("__len_b"), col("__key"))
    a.join(b, Seq("__key"))
      .filter(col("id_a") < col("id_b") &&
        abs(col("__len_a") - col("__len_b")) <= maxDist)
      .select("id_a", "id_b", "text_a", "text_b").distinct()
      .withColumn("dist", levenshtein(col("text_a"), col("text_b")))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("text_a"), col("text_b"),
        col("dist"))
  }
}
