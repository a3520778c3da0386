package perfbench

import java.nio.file.{Files, Paths}

/** Committed expected outputs (expected.json, next to this harness). */
object Expected {
  private lazy val root = {
    val p = Paths.get(sys.props.getOrElse("perfbench.expected", "expected.json"))
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(Files.readString(p))
  }

  /** (sequences digest, audit rows) for the corpus amplification the run
    * used, if recorded. */
  def corpus(a: Args): Option[(String, Seq[(String, Long, Long)])] = {
    val amp = Files.readString(Paths.get(a.work, "corpus", "AMP")).trim
    Option(root.path("corpus").get(amp)).map { n =>
      val audit = (0 until n.get("audit").size()).map { i =>
        val row = n.get("audit").get(i)
        (row.get(0).asText(), row.get(1).asLong(), row.get(2).asLong())
      }
      (n.get("sequences_digest").asText(), audit)
    }
  }
}
