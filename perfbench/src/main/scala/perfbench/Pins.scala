package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Pinned output digests, keyed by (dataset fingerprint, workload, op).
  * A pin is taken once from a run whose outputs were verified against an
  * independent oracle (see README.md); later runs must reproduce it.
  * File format: one `dataset workload op digest` line per pin. */
final class Pins(path: String, dataset: String) {
  private val table: Map[(String, String, String), String] =
    if (!Files.exists(Paths.get(path))) Map.empty
    else new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)
      .split("\n").toSeq.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(ds, w, op, d) = l.split("\\s+")
        (ds, w, op) -> d
      }.toMap

  /** A missing pin fails like a wrong output; its message carries the
    * line to add once the output has been verified. */
  def check(workload: String, op: String, got: Digest,
      ds: String = dataset): Unit =
    table.get((ds, workload, op)) match {
      case Some(want) => Check.equal(got.toString, want, s"$workload/$op digest")
      case None => throw new CheckFailed(
        s"no pinned digest for $workload/$op on dataset $ds; " +
          s"once verified, pin it with the line: $ds $workload $op $got")
    }
}
