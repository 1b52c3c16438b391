package perfbench

import java.io.File
import scala.io.Source

/** The benchmark's golden outputs, read from `perfbench/data/golden.tsv`:
  *  - per graph query, its content hash on the generated registry tables
  *    and how that output was confirmed (`duckdb`: equal to the DuckDB
  *    oracle under `tools/check.py`; `none`: the query has no oracle SQL);
  *  - a `kiln_reference` line: the training-matrix hash for seed
  *    [[Refs.kilnGoldenSeed]].
  * A query without a golden hash is checked only for a hash that repeats
  * across its executions in a run. */
final case class Refs(golden: Map[String, String]) {
  def kilnGolden: Option[String] = golden.get(Refs.kilnKey)
}

object Refs {
  val kilnGoldenSeed = 1L
  val kilnKey = "kiln_reference"

  def load(dir: File): Refs = {
    val src = Source.fromFile(new File(dir, "golden.tsv"), "UTF-8")
    val rows =
      try src.getLines().filterNot(l => l.isEmpty || l.startsWith("#")).map(_.split("\t", -1)).toList
      finally src.close()
    Refs(rows.map(r => r(0) -> r(1)).toMap)
  }
}
