package graft

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.IntegerType

import graft.functions.gfunctions

/** SparkSessionExtensions entry point: registers graft's SQL functions
  * at session construction, so any session built with
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`) can call them from
  * `spark.sql(...)`. This is the one scalar-function registry: each SQL
  * name builds the same expression as its [[gfunctions]] Column call.
  * The catalog-facing surface of the library — everything else composes
  * from stock Spark functions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  import GraftExtensions._

  override def apply(ext: SparkSessionExtensions): Unit = {
    scalars.foreach { case (name, arity, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getCanonicalName, name),
        (es: Seq[Expression]) => {
          require(es.size == arity,
            s"$name takes $arity arguments, got ${es.size}")
          ColumnBridge.expression(build(es.map(ColumnBridge.column)))
        }))
    }
    // table-valued functions: sessionize / exact dedup / as-of join
    // become `SELECT * FROM graft_...('view', ...)` for SQL-first
    // users — the TVF expands at analysis time into the identical
    // logical plan the Scala operator builds (graft.sql.TableFunctions,
    // which also offers an imperative register() for live sessions)
    graft.sql.TableFunctions.all.foreach(ext.injectTableFunction)
  }
}

object GraftExtensions {

  /** (SQL name, argument count, builder over the argument Columns). */
  private val scalars: Seq[(String, Int, Seq[Column] => Column)] = Seq(
    ("t_test_pvalue", 2, a => gfunctions.tTestPValue(a(0), a(1))),
    ("cosine_similarity", 2, a => gfunctions.cosine_similarity(a(0), a(1))),
    ("simhash64", 1, a => gfunctions.simhash64(a(0))),
    ("md5_long", 1, a => gfunctions.md5_long(a(0))),
    ("rolling_hash64", 1, a => gfunctions.rolling_hash64(a(0))),
    ("char_entropy", 1, a => gfunctions.char_entropy(a(0))),
    ("bleu_counts", 2, a => gfunctions.bleu_counts(a(0), a(1))),
    ("rouge_l_counts", 2, a => gfunctions.rouge_l_counts(a(0), a(1))),
    // the int arguments must be literals (they shape the output schema
    // and the generated code)
    ("word_shingles", 2, a => gfunctions.word_shingles(a(0),
      litInt(a(1), "word_shingles(text, n)"))),
    ("minhash_hashes", 2, a => gfunctions.minhash_hashes(a(0),
      litInt(a(1), "minhash_hashes(s, k)"))),
    ("lsh_table_buckets", 4, a => gfunctions.lsh_table_buckets(a(0),
      litInt(a(1), "lsh_table_buckets tables"),
      litInt(a(2), "lsh_table_buckets planesPerTable"),
      litInt(a(3), "lsh_table_buckets dim"))),
    ("repetition_counts", 2, a => gfunctions.repetition_counts(a(0),
      litInt(a(1), "repetition_counts(text, n)"))),
    // marker words as a comma-separated string literal
    ("text_quality_counts", 2, a => gfunctions.text_quality_counts(a(0),
      ColumnBridge.expression(a(1)) match {
        case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) =>
          s.toString.split(",").toSeq
        case other => throw new IllegalArgumentException(
          s"text_quality_counts(text, 'w1,w2,...') requires a string literal, got $other")
      })))

  private def litInt(c: Column, ctx: String): Int =
    ColumnBridge.expression(c) match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"$ctx requires an integer literal, got $other")
    }
}
