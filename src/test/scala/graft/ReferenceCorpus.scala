package graft

import java.nio.file.{Files, Paths}

import org.scalatest.Assertions

/** The reference's messy input corpus (`data/raw_dockets.json`, 502
  * records, FIXTURES.md §A1), read in place from the reference
  * checkout. The repository does not hold it, so every reference-parity
  * test — one whose assertions pin the corpus's own counts and records —
  * starts with [[assumePresent]] and is canceled, not failed, where the
  * file is absent. The check must run before the test forces a lazy
  * fixture built from the corpus.
  */
object ReferenceCorpus {
  val path = "/root/reference/data/raw_dockets.json"

  def assumePresent(): Unit =
    if (!Files.isRegularFile(Paths.get(path)))
      Assertions.cancel(
        s"reference-parity test: the reference corpus $path is missing")
}
