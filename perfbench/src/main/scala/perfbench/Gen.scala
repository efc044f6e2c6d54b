package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.Tables
import graft.tools.SfGen

/** Generate the benchmark's tables with the engine's own generator and
  * fingerprint them: `Gen <dir> <scale> <cores>`. Writes into `<dir>.tmp`
  * and renames when complete, with a `FINGERPRINT` file holding one digest
  * over every table — the dataset id that output pins are keyed by. */
object Gen {
  def main(argv: Array[String]): Unit = {
    val Array(dir, scale, cores) = argv
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tmp = s"$dir.tmp"
    MartRefresh.del(Paths.get(tmp))
    val t0 = System.nanoTime()
    SfGen.generate(spark, tmp, scale.toDouble, cores.toInt)
    val digests = Tables.names.map(t => t -> Digest.of(Tables.load(spark, tmp, t)))
    val fp = Deck.mix(digests.map { case (t, d) =>
      Deck.mix(t.hashCode.toLong, Deck.mix(d.rows, d.hash)) }.sum)
    spark.stop()
    val id = f"sfgen$scale-$fp%016x"
    Files.write(Paths.get(s"$tmp/FINGERPRINT"), id.getBytes(StandardCharsets.UTF_8))
    Files.move(Paths.get(tmp), Paths.get(dir))
    System.err.println(f"[perfbench] generated $dir ($id) in ${(System.nanoTime() - t0) / 1e9}%.1fs: " +
      digests.map { case (t, d) => s"$t=${d.rows}" }.mkString(" "))
  }
}
