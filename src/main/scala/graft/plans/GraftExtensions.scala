package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._

/** Session extensions wiring the engine into Spark SQL:
  *
  *  - registers the custom expressions as SQL functions
  *    (`cosine_distance`, `dot_product`, `shingles`, `minhash_sig`,
  *    `band_keys`, `simhash`, `lsh_buckets`), so `spark.sql("...")`
  *    users get the same codegen kernels as the DataFrame API;
  *  - injects [[AnnRewriteRule]], an opt-in optimizer rule that turns a
  *    brute-force cosine top-k plan into an LSH-bucket-prefiltered one.
  *
  * Activate with `spark.sql.extensions=graft.plans.GraftExtensions`
  * (as [[graft.core.Sessions]] does) or with
  * `withExtensions(new GraftExtensions)` on a session builder.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("cosine_distance"),
      info("cosine_distance", "cosine_distance(a, b) - cosine distance of two float vectors"),
      (exprs: Seq[Expression]) => CosineDistance(exprs(0), exprs(1))))
    ext.injectFunction((FunctionIdentifier("dot_product"),
      info("dot_product", "dot_product(a, b) - dot product of two float vectors"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))))
    ext.injectFunction((FunctionIdentifier("shingles"),
      info("shingles", "shingles(text, n) - distinct lowercase word n-gram shingles"),
      (exprs: Seq[Expression]) => ShinglesExpr(exprs(0), foldInt(exprs(1)))))
    ext.injectFunction((FunctionIdentifier("minhash_sig"),
      info("minhash_sig", "minhash_sig(shingles, k) - k-minima affine-family minhash signature"),
      (exprs: Seq[Expression]) => MinHashSigExpr(exprs(0), foldInt(exprs(1)))))
    ext.injectFunction((FunctionIdentifier("band_keys"),
      info("band_keys", "band_keys(sig, bands, rowsPerBand) - LSH band bucket keys"),
      (exprs: Seq[Expression]) => BandKeysExpr(exprs(0), foldInt(exprs(1)), foldInt(exprs(2)))))
    ext.injectFunction((FunctionIdentifier("simhash"),
      info("simhash", "simhash(text) - 60-bit simhash of lowercase words"),
      (exprs: Seq[Expression]) => SimhashExpr(exprs(0))))
    ext.injectFunction((FunctionIdentifier("nfc_normalize"),
      info("nfc_normalize", "nfc_normalize(text) - unicode NFC composition + control stripping"),
      (exprs: Seq[Expression]) => NfcNormalizeExpr(exprs(0))))
    ext.injectFunction((FunctionIdentifier("winnow_fingerprints"),
      info("winnow_fingerprints", "winnow_fingerprints(text, k, w) - MOSS winnowing fingerprints"),
      (exprs: Seq[Expression]) => WinnowExpr(exprs(0), foldInt(exprs(1)), foldInt(exprs(2)))))
    ext.injectFunction((FunctionIdentifier("lsh_buckets"),
      info("lsh_buckets", "lsh_buckets(emb, dim, tables, bits, seed) - cosine LSH bucket ids"),
      (exprs: Seq[Expression]) => LshBucketsExpr(exprs(0), foldInt(exprs(1)),
        foldInt(exprs(2)), foldInt(exprs(3)), foldLong(exprs(4)))))
    ext.injectFunction((FunctionIdentifier("char_ngrams"),
      info("char_ngrams", "char_ngrams(text, n) - sliding lowercase character n-grams"),
      (exprs: Seq[Expression]) => CharNgramsExpr(exprs(0), foldInt(exprs(1)))))
    ext.injectFunction((FunctionIdentifier("sq8_encode"),
      info("sq8_encode", "sq8_encode(emb) - struct(code, mn, sc) scalar-quantized byte codes"),
      (exprs: Seq[Expression]) => Sq8EncodeExpr(exprs(0))))
    ext.injectFunction((FunctionIdentifier("sq8_cosine_distance"),
      info("sq8_cosine_distance",
        "sq8_cosine_distance(q, code, mn, sc) - asymmetric cosine distance vs SQ8 code"),
      (exprs: Seq[Expression]) => Sq8CosineDistance(exprs(0), exprs(1), exprs(2), exprs(3))))
    ext.injectFunction((FunctionIdentifier("bq_encode"),
      info("bq_encode", "bq_encode(emb) - packed sign-bit binary-quantization code"),
      (exprs: Seq[Expression]) => BqEncodeExpr(exprs(0))))
    ext.injectFunction((FunctionIdentifier("bq_hamming"),
      info("bq_hamming", "bq_hamming(a, b) - Hamming distance between packed BQ codes"),
      (exprs: Seq[Expression]) => BqHammingDistance(exprs(0), exprs(1))))
    ext.injectFunction((FunctionIdentifier("bq_sign_cosine_distance"),
      info("bq_sign_cosine_distance",
        "bq_sign_cosine_distance(q, code) - asymmetric cosine distance vs the sign vector"),
      (exprs: Seq[Expression]) => BqSignCosineDistance(exprs(0), exprs(1))))
    // table-valued functions over the gvdb warehouse: SQL users get the
    // same logical plan as the host-language facade (GvdbTableFunctions)
    ext.injectTableFunction((FunctionIdentifier("gvdb_scan"),
      info("gvdb_scan", "gvdb_scan(path) - merge-on-read view of a gvdb vector table"),
      GvdbTableFunctions.scanBuilder _))
    ext.injectTableFunction((FunctionIdentifier("gvdb_knn"),
      info("gvdb_knn", "gvdb_knn(path, qvec, k) - exact top-k cosine neighbors of qvec"),
      GvdbTableFunctions.knnBuilder _))
    ext.injectTableFunction((FunctionIdentifier("gvdb_changes"),
      info("gvdb_changes", "gvdb_changes(path, from, to) - (id, change) CDC between snapshots"),
      GvdbTableFunctions.changesBuilder _))
    // MERGE INTO over gvdb tables: claim the resolved MergeIntoTable
    // before CheckAnalysis rejects it (Spark's own rewrite skips
    // non-SupportsRowLevelOperations targets), lowering it onto the
    // tombstone-delete / dedup-insert machinery
    ext.injectResolutionRule(session => new GvdbMergeRule(session))
    ext.injectOptimizerRule(session => new AnnRewriteRule(session))
    // file-skipping for JSON-path filters over extract-column tables:
    // a physical rule in the columnar pre-transition slot — applied in
    // EVERY plan's preparations (postPlannerStrategy rules only run
    // under AQE), after V2 scan planning, where the residual
    // FilterExec sits directly on the GvdbBatchScan (see
    // GvdbJsonFilterRule's scaladoc for why no logical slot works)
    ext.injectColumnar(session => new org.apache.spark.sql.execution.ColumnarRule {
      override def preColumnarTransitions
          : org.apache.spark.sql.catalyst.rules.Rule[org.apache.spark.sql.execution.SparkPlan] =
        new GvdbJsonFilterRule(session)
    })
  }

  private def foldInt(e: Expression): Int = e.eval(null) match {
    case i: Int => i
    case l: Long => l.toInt
    case other => throw new IllegalArgumentException(s"expected integer literal, got $other")
  }

  private def foldLong(e: Expression): Long = e.eval(null) match {
    case i: Int => i.toLong
    case l: Long => l
    case other => throw new IllegalArgumentException(s"expected long literal, got $other")
  }
}
