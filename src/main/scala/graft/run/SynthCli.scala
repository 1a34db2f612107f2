package graft.run

import graft.kg.Synth

/** Emit the deterministic synthetic corpus as a CoNLL file — fixture
  * generation surface (FIXTURES.md §6; no external data, fixed seed).
  *
  * Usage: SynthCli <out.conll> [-n sentences] [-s seed] [-f from]
  */
object SynthCli {
  def main(args: Array[String]): Unit = {
    val (opts, pos) = Cli.parse(args, Set("-n", "-s", "-f"))
    require(pos.length == 1, "usage: SynthCli <out.conll> [-n sentences] [-s seed] [-f from]")
    val n = opts.getOrElse("-n", "400").toInt
    val seed = opts.getOrElse("-s", "7").toLong
    val from = opts.getOrElse("-f", "0").toLong
    val out = java.nio.file.Paths.get(pos.head)
    if (out.getParent != null) java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.writeString(out, Synth.conllCorpus(seed, from, n))
    println(s"[synth] wrote $n sentences (seed=$seed, from=$from) to ${pos.head}")
  }
}
