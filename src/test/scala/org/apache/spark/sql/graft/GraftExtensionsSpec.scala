package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.Literal
import org.scalatest.funsuite.AnyFunSuite

/** `spark.sql.extensions=graft.functions.GraftExtensions` gives SQL text
  * every graft function name. (Lives under `org.apache.spark.sql` to reach
  * the extension's function injection without building a session.) */
class GraftExtensionsSpec extends AnyFunSuite {

  test("GraftExtensions injects every graft SQL function") {
    val ext = new SparkSessionExtensions
    new _root_.graft.functions.GraftExtensions().apply(ext)
    val registry = FunctionRegistry.builtin.clone()
    ext.registerFunctions(registry)
    Seq("graft_array_dot", "graft_word_shingles", "graft_fingerprint", "graft_minhash_signature",
      "graft_simhash", "graft_process_statement", "graft_topk", "graft_card_redact",
      "graft_winnow", "graft_quality", "graft_bloom_contains", "graft_langid").foreach { name =>
      assert(registry.functionExists(FunctionIdentifier(name)), name)
    }
    assert(registry.lookupFunction(FunctionIdentifier("graft_simhash"), Seq(Literal("a b c")))
      .isInstanceOf[_root_.graft.functions.SimHash60])
  }
}
