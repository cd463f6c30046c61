package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.core.{Compression, DocParseException}

class CompressionSpec extends SparkSpec {
  import spark.implicits._

  private val doc = "c test\np cnf 3 2\n1 -2 0\n2 3 0\n".getBytes("UTF-8")

  private def xz(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new org.tukaani.xz.XZOutputStream(bos, new org.tukaani.xz.LZMA2Options())
    out.write(b); out.finish(); out.close()
    bos.toByteArray
  }
  private def gz(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.util.zip.GZIPOutputStream(bos)
    out.write(b); out.finish(); out.close()
    bos.toByteArray
  }
  private def bz2(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new org.apache.commons.compress.compressors.bzip2.BZip2CompressorOutputStream(bos)
    out.write(b); out.close()
    bos.toByteArray
  }
  private def zstd(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new com.github.luben.zstd.ZstdOutputStream(bos)
    out.write(b); out.close()
    bos.toByteArray
  }

  test("magic detection + round trip for every codec; plain bytes pass through") {
    val cases = Seq(
      Compression.Xz -> xz(doc), Compression.Gzip -> gz(doc),
      Compression.Bzip2 -> bz2(doc), Compression.Zstd -> zstd(doc))
    for ((codec, blob) <- cases) {
      assert(Compression.detect(blob) == codec, s"detect $codec")
      assert(Compression.decompress(blob, Compression.Auto).sameElements(doc), s"auto $codec")
      assert(Compression.decompress(blob, codec).sameElements(doc), s"explicit $codec")
    }
    assert(Compression.detect(doc) == Compression.None)
    assert(Compression.decompress(doc, Compression.Auto) eq doc, "plain bytes pass through")
  }

  test("compress is the write-side inverse: detectable magic + exact round trip per codec") {
    for (codec <- Seq(Compression.Xz, Compression.Gzip, Compression.Bzip2, Compression.Zstd)) {
      val blob = Compression.compress(doc, codec)
      assert(Compression.detect(blob) == codec, s"magic $codec")
      assert(Compression.decompress(blob, Compression.Auto).sameElements(doc), s"round trip $codec")
    }
    assert(Compression.compress(doc, Compression.None) eq doc, "none passes through")
    intercept[IllegalArgumentException](Compression.compress(doc, Compression.Auto))
  }

  test("corrupt stream and decompressed-size budget fail the ROW (DocParseException)") {
    val corrupt = xz(doc).clone()
    corrupt(corrupt.length / 2) = (corrupt(corrupt.length / 2) ^ 0x5a).toByte
    intercept[DocParseException](Compression.decompress(corrupt, Compression.Auto))
    intercept[DocParseException](Compression.decompress(xz(doc), Compression.Auto, maxBytes = 8))
    // truncated header: decoder construction itself fails
    intercept[DocParseException](Compression.decompress(xz(doc).take(7), Compression.Xz))
  }

  test("decompress fuses below the hash kernel: compressed bytes == plain text hash") {
    val df = Seq(
      (1L, xz(doc)), (2L, gz(doc)), (3L, bz2(doc)), (4L, zstd(doc)), (5L, doc))
      .toDF("id", "payload")
    val hashed = df.select($"id", gbd_hash(decompress_auto($"payload")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = graft.core.Dimacs.gbdHashCnf(doc)
    assert(hashed.values.toSet == Set(expected))
    // corrupt payload nulls the row, never the task
    val bad = xz(doc).clone(); bad(bad.length / 2) = (bad(bad.length / 2) ^ 0x5a).toByte
    val r = Seq((9L, bad)).toDF("id", "payload")
      .select(decompress_auto($"payload")).head()
    assert(r.isNullAt(0))
  }

  test("FeatureJob codec: compressed corpus through the pipeline == plain corpus; corrupt blob → decode_error") {
    import graft.runtime.FeatureJob
    val doc2 = "p cnf 2 1\n-1 2 0\n".getBytes("UTF-8")
    val corrupt = xz(doc).clone()
    corrupt(corrupt.length / 2) = (corrupt(corrupt.length / 2) ^ 0x5a).toByte
    val plain = Seq(("u1", doc), ("u2", doc2)).toDF("url", "text")
    val comp = Seq(("u1", xz(doc)), ("u2", zstd(doc2)), ("u3", corrupt))
      .toDF("url", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("url", "instance_id", "status", "features.clauses")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        if (r.isNullAt(3)) -1.0 else r.getDouble(3))).toSet
    val p = rows(FeatureJob.extractStage(plain, "cnf"))
    val c = rows(FeatureJob.extractStage(comp, "cnf",
      graft.functions.DocExtract.DefaultMaxBytes,
      graft.functions.DocExtract.DefaultMaxOps, Compression.Auto))
    assert(c.filter(_._1 != "u3") == p,
      "compressed corpus must extract identically to the plain corpus")
    assert(c.find(_._1 == "u3").map(_._3).contains("decode_error"))
    // the fused plan materializes no decompressed intermediate: the only
    // kernel expression in the executed plan is the single cnf_extract
    // (repartition below keeps ConvertToLocalRelation from pre-evaluating
    // the projection — over parquet the Project survives as in production)
    val planStr = FeatureJob.extractStage(comp.repartition(2), "cnf",
      graft.functions.DocExtract.DefaultMaxBytes,
      graft.functions.DocExtract.DefaultMaxOps, Compression.Auto)
      .queryExecution.executedPlan.toString
    assert("cnf_extract".r.findAllIn(planStr).size == 1,
      s"expected exactly one fused cnf_extract in the plan:\n$planStr")
  }

  test("FeatureJob codec for wcnf and opb: compressed corpus == plain corpus in one fused kernel") {
    import graft.runtime.FeatureJob
    for ((format, path) <- Seq("wcnf" -> "/gbdc/wcnf_test.wcnf.xz", "opb" -> "/gbdc/opb_test.opb.xz")) {
      val golden = graft.Fixtures.resourceBytes(path)
      val small = (if (format == "wcnf") "p wcnf 2 2 9\n9 1 -2 0\n3 2 0\n" else "+1 x1 +1 x2 >= 1 ;\n")
        .getBytes("UTF-8")
      val plain = Seq(("u1", golden), ("u2", small)).toDF("url", "text")
      val comp = Seq(("u1", xz(golden)), ("u2", zstd(small))).toDF("url", "text")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("url", "instance_id", "status", "features").collect().toSet
      val p = rows(FeatureJob.extractStage(plain, format))
      assert(p.map(_.getString(2)) == Set("ok"), p)
      assert(rows(FeatureJob.extractStage(comp, format, codec = Compression.Auto)) == p,
        s"compressed $format corpus must extract identically to the plain corpus")
      val planStr = FeatureJob.extractStage(comp.repartition(2), format, codec = Compression.Auto)
        .queryExecution.executedPlan.toString
      assert(s"${format}_extract".r.findAllIn(planStr).size == 1 && !planStr.contains("decompress_"),
        s"expected exactly one fused ${format}_extract and no decompress_ in the plan:\n$planStr")
    }
  }

  test("SQL registry path: decompress_xz usable from SQL text") {
    graft.GraftExtensions.register(spark)
    Seq((1L, xz(doc))).toDF("id", "payload").createOrReplaceTempView("comp_docs")
    val r = spark.sql(
      "SELECT gbd_hash(decompress_xz(payload)) AS h FROM comp_docs").head().getString(0)
    assert(r == graft.core.Dimacs.gbdHashCnf(doc))
    spark.catalog.dropTempView("comp_docs")
  }
}
