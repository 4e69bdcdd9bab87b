package graft.perfbench

import java.io.File
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Reference outputs kept beside the benchmark as `key<TAB>value` lines. */
private[perfbench] class RefTable(name: String) {
  def file(benchDir: File): File = new File(benchDir, s"refs/$name")
  def load(benchDir: File): Map[String, String] = {
    val f = file(benchDir)
    if (!f.exists) Map.empty
    else Files.readAllLines(f.toPath).asScala.iterator.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\t", 2); k -> v }.toMap
  }
  def save(benchDir: File, header: String, rows: Seq[(String, String)]): Unit = {
    val f = file(benchDir)
    f.getParentFile.mkdirs()
    Files.writeString(f.toPath,
      header.linesIterator.map("# " + _).mkString("", "\n", "\n") +
        rows.map { case (k, v) => s"$k\t$v" }.mkString("", "\n", "\n"))
  }
}

/** Per-query (rows:xor:hiSum) fingerprints of the catalog over
  * `data/sf0.001`, recorded from a run whose outputs pass the DuckDB
  * oracle compare.
  */
object CatalogRef extends RefTable("catalog.tsv") {
  def save(benchDir: File, rows: Seq[(String, String)]): Unit =
    save(benchDir, "query\tfingerprint (rows:xor:sum of high halves of xxhash64 row hashes)", rows)
}

/** kg_ref: md5 of the rendered parse of each seed's 40-doc sample (plus
  * its first oversize doc), recorded from the program this benchmark was
  * introduced with.
  */
object RefFingerprints extends RefTable("kg_ref_sample_md5.tsv") {
  def lookup(benchDir: File, seed: Long): Option[String] = load(benchDir).get(seed.toString)
}
