package graft.app

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.tagobjects.Slow

/**
 * The demo mains under `sbt test`: each demo is an EXECUTED end-to-end
 * surface (ingestion lifecycle across restarts, streaming feedback loop,
 * export manifests) whose internal `assert`s are the contract — but as
 * bare mains they certified nothing unless someone remembered to run
 * them, and FullIngestDemo once rotted silently when the IVF
 * managed-generation layout landed. This suite makes `sbt test` alone
 * execute every demo path, so a lifecycle regression fails the build
 * loudly instead of waiting for a manual rerun.
 *
 * Each demo builds its own SparkSession on temp dirs and stops it when
 * done; the build runs suites sequentially in the forked test JVM, so
 * the stop cannot strand a concurrent suite, and the next suite's
 * getOrCreate starts fresh. A demo failure surfaces as the demo's own
 * AssertionError message.
 */
class DemoSurfaceSpec extends AnyFunSuite {

  test("FullIngestDemo: five-family ingestion loop end-to-end", Slow) {
    FullIngestDemo.main(Array.empty)
  }

  test("IncrementalIngestDemo: bootstrap, retry no-op, append-rejects", Slow) {
    IncrementalIngestDemo.main(Array.empty)
  }

  test("CorpusIngestDemo: streaming ingest screens: quality gate, re-crawl suppression, near-dup flags", Slow) {
    CorpusIngestDemo.main(Array.empty)
  }

  test("GatedIngestDemo: quality+span gates in the streaming sink, replay-stable", Slow) {
    GatedIngestDemo.main(Array.empty)
  }

  test("AppDemo: alarm processor feedback loop + class-update retrigger", Slow) {
    AppDemo.main(Array.empty)
  }

  test("RecoveryDemo: kill/restart recovery from the same checkpoint", Slow) {
    RecoveryDemo.main(Array.empty)
  }

  test("ExportDemo: deterministic shard manifests + id-sequence round trip at sf0.001", Slow) {
    ExportDemo.main(Array("/root/testdata/sf0.001"))
  }

  test("TokenBudgetDemo: ingest token stamp -> seqPack -> packReport in one flow", Slow) {
    TokenBudgetDemo.main(Array("/root/testdata/sf0.001"))
  }
}
