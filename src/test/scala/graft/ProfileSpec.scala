package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** `-Dgraft.profile=cluster` umbrella (round-14 verdict item 6): the
  * profile must actually ENGAGE each documented cluster spelling, an
  * explicit per-dial property must always beat the profile, and an
  * unknown profile must fail loudly. Props are save/restored so the
  * shared-JVM suite never leaks profile state into other specs. */
class ProfileSpec extends AnyFunSuite {

  private def withProps(kvs: (String, Option[String])*)(body: => Unit): Unit = {
    val saved = kvs.map { case (k, _) => k -> sys.props.get(k) }
    try {
      kvs.foreach {
        case (k, Some(v)) => sys.props(k) = v
        case (k, None) => sys.props.remove(k)
      }
      body
    } finally saved.foreach {
      case (k, Some(v)) => sys.props(k) = v
      case (k, None) => sys.props.remove(k)
    }
  }

  test("local default: every boolean crossover dial is OFF") {
    withProps("graft.profile" -> None,
      "graft.q18.bloom" -> None, "graft.q61.mask" -> None) {
      assert(!graft.ops.Relational.q18BloomDial)
      assert(!graft.ops.Temporal.q61MaskDial)
    }
  }

  test("cluster profile engages q18.bloom and q61.mask as a set") {
    withProps("graft.profile" -> Some("cluster"),
      "graft.q18.bloom" -> None, "graft.q61.mask" -> None) {
      assert(graft.ops.Relational.q18BloomDial,
        "profile=cluster must flip the q18 Bloom semi-join on")
      assert(graft.ops.Temporal.q61MaskDial,
        "profile=cluster must flip the q61 bitmask spelling on")
    }
  }

  test("explicit per-dial property beats the profile in both directions") {
    withProps("graft.profile" -> Some("cluster"),
      "graft.q18.bloom" -> Some("false"), "graft.q61.mask" -> None) {
      assert(!graft.ops.Relational.q18BloomDial,
        "-Dgraft.q18.bloom=false must override the cluster profile")
      assert(graft.ops.Temporal.q61MaskDial)
    }
    withProps("graft.profile" -> None, "graft.q61.mask" -> Some("true")) {
      assert(graft.ops.Temporal.q61MaskDial,
        "-Dgraft.q61.mask=true must engage without any profile")
    }
  }

  test("d02.verify stays `sets` under the cluster profile (documented non-flip)") {
    // d02VerifySpelling is a load-time val by design (staged frames must
    // never mix spellings within a run); the profile deliberately leaves
    // it alone because `sets` IS the cluster spelling — `bcast` is the
    // single-box winner whose corpus-linear dictionary cannot assume
    // executor memory at 100 TB. Pin the loaded value so a future
    // profile edit that starts flipping it trips this spec.
    assert(graft.ops.DedupOps.d02VerifySpelling == "sets")
  }

  test("the engine reads exactly the nine documented -Dgraft.* properties") {
    // every other algorithm setting is a constant next to the code that
    // uses it; a new property must be added here AND to the Profile
    // scaladoc / README dial table, never slip in unnoticed
    val literal = "\"(graft\\.[A-Za-z0-9_.]+)\"".r
    val root = java.nio.file.Paths.get("src", "main", "scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    val files = java.nio.file.Files.walk(root)
    val found = try {
      files.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap(f => literal.findAllMatchIn(java.nio.file.Files.readString(f)).map(_.group(1)))
        .toSet
    } finally files.close()
    assert(found == Set("graft.profile", "graft.q18.bloom", "graft.q61.mask",
      "graft.d02.verify", "graft.export.shards", "graft.pack.blockDocs",
      "graft.bpe.rounds", "graft.bench.calibRef", "graft.repo.root"))
  }

  test("unknown profile fails loudly") {
    withProps("graft.profile" -> Some("banana")) {
      intercept[IllegalArgumentException] {
        graft.ops.Relational.q18BloomDial
      }
    }
  }
}
