package graft.ext

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.parse.{BpeApplyExpr, CountInExpr, DotProductExpr, FlacMetaExpr, IntDotExpr, IntersectCountExpr, JaccardExpr, L2SqExpr, Md5Lower64Expr, MediaMetaExpr, MinhashExpr, Mp4MetaExpr, MpegAudioMetaExpr, NfcExpr, OggMetaExpr, ParseKvExpr, PdfMetaExpr, ParseKvFieldsExpr, PqCodeExpr, RollingHashExpr, ShinglesExpr, SimhashExpr, TokensExpr, WebpMetaExpr}

/** Engine extensions, installed with
  * `spark.sql.extensions=graft.ext.GraftExtensions` (GraftSession sets
  * it): registers the custom codegen'd expressions as SQL functions so
  * they work from `spark.sql(...)` and `call_function` alike. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => KernelRewriteRule)
    ext.injectFunction((
      new FunctionIdentifier("parse_kv"),
      new ExpressionInfo(classOf[ParseKvExpr].getName, "parse_kv"),
      (children: Seq[Expression]) => ParseKvExpr(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("parse_kv_fields"),
      new ExpressionInfo(classOf[ParseKvFieldsExpr].getName, "parse_kv_fields"),
      (children: Seq[Expression]) => {
        require(children.length == 2 && children(1).foldable,
          "parse_kv_fields(blob, array('field', ...) literal)")
        val arr = children(1).eval()
        require(arr != null, "parse_kv_fields: field list must not be NULL")
        val ad = arr.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        val ids = (0 until ad.numElements())
          .map(i => ad.getUTF8String(i).toString)
        ParseKvFieldsExpr(children.head, ids)
      }))
    ext.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[DotProductExpr].getName, "vec_dot"),
      (children: Seq[Expression]) =>
        DotProductExpr(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("pq_code"),
      new ExpressionInfo(classOf[PqCodeExpr].getName, "pq_code"),
      (children: Seq[Expression]) => {
        require(children.length == 2 && children(1).foldable &&
          (children(1).dataType match {
            case ArrayType(ArrayType(DoubleType, _), _) => true
            case _ => false
          }),
          "pq_code(subvector, array(array(double)) codebook literal)")
        val arr = children(1).eval()
        val ad = arr.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        def noNulls(a: org.apache.spark.sql.catalyst.util.ArrayData) =
          (0 until a.numElements()).forall(!a.isNullAt(_))
        require(arr != null && noNulls(ad) &&
          (0 until ad.numElements()).forall(c => noNulls(ad.getArray(c))),
          "pq_code: codebook must not be NULL or hold a NULL row or value")
        val table = (0 until ad.numElements()).map { c =>
          val row = ad.getArray(c)
          (0 until row.numElements()).map(row.getDouble)
        }
        PqCodeExpr(children.head, table)
      }))
    ext.injectFunction((
      new FunctionIdentifier("vec_l2sq"),
      new ExpressionInfo(classOf[L2SqExpr].getName, "vec_l2sq"),
      (children: Seq[Expression]) =>
        L2SqExpr(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("vec_dot_i"),
      new ExpressionInfo(classOf[IntDotExpr].getName, "vec_dot_i"),
      (children: Seq[Expression]) =>
        IntDotExpr(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("tokens_ws"),
      new ExpressionInfo(classOf[TokensExpr].getName, "tokens_ws"),
      (children: Seq[Expression]) => TokensExpr(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("nfc"),
      new ExpressionInfo(classOf[NfcExpr].getName, "nfc"),
      (children: Seq[Expression]) => NfcExpr(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("bpe_apply"),
      new ExpressionInfo(classOf[BpeApplyExpr].getName, "bpe_apply"),
      (children: Seq[Expression]) => {
        require(children.length == 3 && children(1).foldable &&
          children(2).foldable,
          "bpe_apply(sanitized_text, array(pairLeft...) literal, array(pairRight...) literal)")
        def strs(e: Expression): Seq[String] = {
          val arr = e.eval()
          require(arr != null, "bpe_apply: merge arrays must not be NULL")
          val ad = arr.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
          (0 until ad.numElements()).map(i => ad.getUTF8String(i).toString)
        }
        val a = strs(children(1)); val b = strs(children(2))
        require(a.length == b.length,
          "bpe_apply: merge halves must align")
        BpeApplyExpr(children.head, a.zip(b))
      }))
    ext.injectFunction((
      new FunctionIdentifier("count_in"),
      new ExpressionInfo(classOf[CountInExpr].getName, "count_in"),
      (children: Seq[Expression]) =>
        CountInExpr(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("jaccard"),
      new ExpressionInfo(classOf[JaccardExpr].getName, "jaccard"),
      (children: Seq[Expression]) =>
        JaccardExpr(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("intersect_count"),
      new ExpressionInfo(classOf[IntersectCountExpr].getName, "intersect_count"),
      (children: Seq[Expression]) =>
        IntersectCountExpr(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("rolling_fingerprint"),
      new ExpressionInfo(classOf[RollingHashExpr].getName, "rolling_fingerprint"),
      (children: Seq[Expression]) => RollingHashExpr(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("shingles_k"),
      new ExpressionInfo(classOf[ShinglesExpr].getName, "shingles_k"),
      (children: Seq[Expression]) => {
        require(children.length == 2 && children(1).foldable,
          "shingles_k(text, k literal)")
        val k = children(1).eval()
        require(k.isInstanceOf[Number],
          s"shingles_k: k must be a non-null integer literal, got $k")
        ShinglesExpr(children.head, k.asInstanceOf[Number].intValue())
      }))
    ext.injectFunction((
      new FunctionIdentifier("md5_lower64"),
      new ExpressionInfo(classOf[Md5Lower64Expr].getName, "md5_lower64"),
      (children: Seq[Expression]) => Md5Lower64Expr(children.head)))
    // Spark's Bloom-filter expressions are optimizer-internal (the
    // runtime row-level filter injects them itself); registering them
    // exposes the same machinery for EXPLICIT join pruning
    // (bloom_agg(key, estItems, numBits) -> binary;
    // bloom_might_contain(blob, key) -> boolean, blob must be foldable
    // — pass the collected sketch as a literal, see q125).
    ext.injectFunction((
      new FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "bloom_agg"),
      (children: Seq[Expression]) => children match {
        case Seq(c) =>
          new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c)
        case Seq(c, items) =>
          new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c, items)
        case Seq(c, items, bits) =>
          new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c, items, bits)
        case _ => throw new IllegalArgumentException(
          "bloom_agg(key[, estimatedItems[, numBits]])")
      }))
    ext.injectFunction((
      new FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "bloom_might_contain"),
      (children: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("media_meta"),
      new ExpressionInfo(classOf[MediaMetaExpr].getName, "media_meta"),
      (children: Seq[Expression]) => MediaMetaExpr(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("webp_meta"),
      new ExpressionInfo(classOf[WebpMetaExpr].getName, "webp_meta"),
      (children: Seq[Expression]) => WebpMetaExpr(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("mpeg_audio_meta"),
      new ExpressionInfo(classOf[MpegAudioMetaExpr].getName, "mpeg_audio_meta"),
      (children: Seq[Expression]) => MpegAudioMetaExpr(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("flac_meta"),
      new ExpressionInfo(classOf[FlacMetaExpr].getName, "flac_meta"),
      (children: Seq[Expression]) => FlacMetaExpr(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("pdf_meta"),
      new ExpressionInfo(classOf[PdfMetaExpr].getName, "pdf_meta"),
      (children: Seq[Expression]) => PdfMetaExpr(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("mp4_meta"),
      new ExpressionInfo(classOf[Mp4MetaExpr].getName, "mp4_meta"),
      (children: Seq[Expression]) => Mp4MetaExpr(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("ogg_meta"),
      new ExpressionInfo(classOf[OggMetaExpr].getName, "ogg_meta"),
      (children: Seq[Expression]) => OggMetaExpr(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("minhash32"),
      new ExpressionInfo(classOf[MinhashExpr].getName, "minhash32"),
      (children: Seq[Expression]) => {
        require((children.length == 3 || children.length == 4) &&
          children.drop(1).forall(_.foldable),
          "minhash32(arr, numHashes literal, seed literal[, mode literal])")
        val (n, seed) = (children(1).eval(), children(2).eval())
        require(n.isInstanceOf[Number] && seed.isInstanceOf[Number],
          s"minhash32: numHashes/seed must be non-null numeric literals, got $n, $seed")
        val mode = if (children.length == 4) {
          val m = children(3).eval() // NULL literal is foldable: check it
          require(m != null,
            "minhash32(arr, numHashes literal, seed literal[, mode literal]): mode must be a non-null string literal")
          m.toString
        } else "murmur3"
        MinhashExpr(children.head, n.asInstanceOf[Number].intValue(),
          seed.asInstanceOf[Number].longValue(), mode)
      }))
    ext.injectFunction((
      new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimhashExpr].getName, "simhash64"),
      (children: Seq[Expression]) => {
        require(children.length == 1 ||
          (children.length == 2 && children(1).foldable),
          "simhash64(arr[, mode literal])")
        val mode = if (children.length == 2) {
          val m = children(1).eval() // NULL literal is foldable: check it
          require(m != null,
            "simhash64(arr[, mode literal]): mode must be a non-null string literal")
          m.toString
        } else "xxh64"
        SimhashExpr(children.head, mode)
      }))
  }
}
