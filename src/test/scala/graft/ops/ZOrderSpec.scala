package graft.ops

import graft.SparkSpec
import graft.functions.ZOrderKernel
import org.apache.spark.sql.functions._

/** Z-order kernel: equality with the naive per-bit interleave, the
  * dominance-order prefix property, and the codegen path on a
  * parquet-backed plan.
  */
class ZOrderSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.01"

  test("zorder2 kernel equals the naive per-bit interleave") {
    val rnd = new scala.util.Random(42)
    val cases = Seq((0, 0), (65535, 65535), (1, 0), (0, 1), (32768, 1),
      (43690, 21845)) ++ Seq.fill(500)((rnd.nextInt(65536), rnd.nextInt(65536)))
    cases.foreach { case (x, y) =>
      val naive = (0 until 16).map { i =>
        (((x.toLong >> i) & 1L) << (2 * i)) | (((y.toLong >> i) & 1L) << (2 * i + 1))
      }.reduce(_ | _)
      assert(ZOrderKernel.interleave16(x, y) === naive, s"mismatch at ($x, $y)")
    }
  }

  test("zorder2 preserves per-dimension order along the curve (prefix property)") {
    // If x1 <= x2 and y1 <= y2 then z1 <= z2 (monotone in the dominance
    // order) — the property that makes z-range <-> bbox reasoning valid.
    val rnd = new scala.util.Random(7)
    (1 to 500).foreach { _ =>
      val (x1, y1) = (rnd.nextInt(65536), rnd.nextInt(65536))
      val (x2, y2) = (x1 + rnd.nextInt(65536 - x1), y1 + rnd.nextInt(65536 - y1))
      assert(ZOrderKernel.interleave16(x1, y1) <= ZOrderKernel.interleave16(x2, y2))
    }
  }

  test("zorder2 codegen path on a parquet-backed plan matches the kernel") {
    val out = graft.Tables.events(spark, sf)
      .filter(col("event_id") < 300)
      .select((col("user_id") % 256).cast("int").as("xd"),
        (floor(col("value")).cast("int") % 256).as("yd"))
      .withColumn("z", graft.functions.GraftFunctions.zorder2(col("xd"), col("yd")))
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(2) === ZOrderKernel.interleave16(r.getInt(0), r.getInt(1)))
    }
  }
}
