package graft.tools

import graft.functions.{JsonConsumer, JsonPathExtract}
import graft.functions.JsonConsumer.{Cast => Get}
import graft.variant.VariantJsonCodec
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
import org.apache.spark.sql.types.{BinaryType, DoubleType, LongType, StringType}

/** Single-thread JSON→variant encode, no Spark session: ns/doc (median
  * and min of 7 passes after 5 warm-up) and allocated bytes/doc
  * (`ThreadMXBean.getThreadAllocatedBytes`) of `fromJsonBytes`, next to
  * Spark 4.1's `VariantBuilder.parseJson` (its figures include the UTF-8
  * decode to `String`), on two doc sets of [[docs]]; then the fused
  * `try_variant_get(try_variant_from_json(s), path)` of raw_query
  * (`JsonPathExtract`, one byte walk per doc) on the shuffled-keys set.
  * Run: sbt "runMain graft.tools.CodecBench [docs]"
  */
object CodecBench {
  private val Cities = Array("Oslo", "Lima", "Pune", "Kyiv", "Perth", "Cork", "Quito", "Bern")

  /** `n` objects: fixed fields (a nested object and an array among them)
    * plus 4-8 of 256 vocabulary keys. With `runs`, rows come in runs of
    * 20-200 that share one key set and field order (log shippers);
    * without, each row draws its keys and shuffles its fields, so no two
    * neighbours share a shape (schema-on-read). */
  def docs(n: Int, runs: Boolean): Array[Array[Byte]] = {
    val r = new java.util.Random(if (runs) 1 else 2)
    var vocab = Seq.empty[Int]
    var left = 0
    Array.tabulate(n) { i =>
      if (left == 0 || !runs) {
        vocab = Iterator.continually(r.nextInt(256)).distinct.take(4 + r.nextInt(5)).toSeq
        left = 20 + r.nextInt(180)
      }
      left -= 1
      val fields = Seq(s""""id": $i""", s""""grp": "g${r.nextInt(16)}"""", s""""amt": ${r.nextInt(50000) / 100.0}""",
        s""""n": {"x": ${r.nextInt(1000)}, "y": "${Cities(r.nextInt(8))}"}""",
        s""""tags": [${Seq.fill(r.nextInt(4))("\"t" + r.nextInt(30) + "\"").mkString(", ")}]""") ++ vocab.map { k =>
        f""""f$k%03d": """ + (if (k % 2 == 0) r.nextInt(10000).toString else "\"" + Cities(r.nextInt(8)) + "\"")
      }
      (if (runs) fields else new scala.util.Random(r.nextLong()).shuffle(fields)).mkString("{", ", ", "}").getBytes("UTF-8")
    }
  }

  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toInt else 20000
    val mx = java.lang.management.ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
    def allocated = mx.getThreadAllocatedBytes(Thread.currentThread().getId)
    var blackhole = 0L
    def bench(label: String, docs: Array[Array[Byte]])(f: java.util.function.ToIntFunction[Array[Byte]]): Unit = {
      def pass(): Double = {
        val t0 = System.nanoTime()
        docs.foreach(d => blackhole += f.applyAsInt(d))
        (System.nanoTime() - t0).toDouble / docs.length
      }
      (1 to 5).foreach(_ => pass())
      val ns = Seq.fill(7)(pass()).sorted
      val a0 = allocated
      pass()
      val alloc = (allocated - a0).toDouble / docs.length
      println(f"[codec] $label%-40s median ${ns(3)}%6.0f ns/doc  min ${ns(0)}%6.0f ns/doc  $alloc%5.0f B/doc")
    }
    val shuffled = docs(n, runs = false)
    for ((set, ds) <- Seq("runs of one shape" -> docs(n, runs = true), "shuffled keys" -> shuffled)) {
      bench(s"graft fromJsonBytes, $set", ds)(d => VariantJsonCodec.fromJsonBytes(d, 0, d.length)._2.length)
      bench(s"spark parseJson, $set", ds)(d => org.apache.spark.types.variant.VariantBuilder
        .parseJson(new String(d, java.nio.charset.StandardCharsets.UTF_8), false).getValue.length)
    }
    val row = new GenericInternalRow(1)
    for ((path, read) <- Seq("$.grp" -> Get(StringType, false), "$.amt" -> Get(DoubleType, false),
        "$.n.x" -> Get(LongType, false), "$.n" -> JsonConsumer.TypeOf)) {
      val fused = JsonPathExtract(BoundReference(0, BinaryType, nullable = true), path, read, parseFailOnError = false)
      bench(s"fused ${read.dataType.simpleString} ${read.fusedName} $path, shuffled keys", shuffled) { d =>
        row.update(0, d)
        fused.eval(row).hashCode
      }
    }
    println(s"[codec] blackhole $blackhole")
  }
}
