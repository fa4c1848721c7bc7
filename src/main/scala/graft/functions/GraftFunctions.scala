package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SQL registration for the native graft expressions, so `spark.sql`
  * users get the same fused kernels as the Column API:
  *
  *   cosine_similarity(a, b)          array<float> × array<float> → double
  *   vector_dot(a, b)                 array<float> × array<float> → double
  *   word_shingles(text, n)           string → array<string>
  *   minhash_signature(shingles, k)   array<string> → array<long>
  *   min_k_hashes(arr, k)             array<string> → array<long>
  *   simhash64(tokens)                array<string> → long
  *
  * One path: [[GraftExtensions]] injects them through
  * `spark.sql.extensions` when [[graft.GraftSession]] builds the session,
  * so every session the project builds has them.
  */
object GraftFunctions {

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_similarity" -> (args => CosineSimilarity(args(0), args(1))),
    "vector_dot" -> (args => DotProduct(args(0), args(1))),
    "word_shingles" -> (args => WordShingles(args(0), intArg(args(1), "n"))),
    "minhash_signature" -> (args => MinHashSignature(args(0), intArg(args(1), "k"))),
    "min_k_hashes" -> (args => MinKHashes(args(0), intArg(args(1), "k"))),
    "simhash64" -> (args => SimHash64(args(0))))
}

/** `spark.sql.extensions` entry point: injects the graft functions and
  * the grouped-top-k window rewrite at session construction. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, b) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.GraftFunctions", name),
        b))
    }
    ext.injectOptimizerRule(_ => graft.plans.TopKWindowRewrite)
  }
}
