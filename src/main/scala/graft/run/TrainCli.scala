package graft.run

import graft.crf.{CrfConfig, Example, Trainer}
import graft.io.{ConfigJson, ConllReader, JsonExamples, MarkdownReader, ModelIO}

/** File-format dispatch — reference `read_file`
  * (`/root/reference/spacy_crfsuite/utils.py:26-90`): .md/.markdown →
  * MarkdownReader, .txt/.conll → CoNLL reader, .json/.jsonl → gold JSON. */
object Readers {
  def readFile(path: String): IndexedSeq[Example] = {
    val lower = path.toLowerCase
    if (lower.endsWith(".md") || lower.endsWith(".markdown"))
      MarkdownReader.read(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
    else if (lower.endsWith(".txt") || lower.endsWith(".conll"))
      ConllReader.readFile(path)
    else if (lower.endsWith(".json") || lower.endsWith(".jsonl"))
      JsonExamples.readFile(path)
    else if (lower.endsWith(".yml") || lower.endsWith(".yaml"))
      graft.io.YamlReader.readFile(path)
    else throw new IllegalArgumentException(
      s"Can't read examples from file with extension: ($path). Accepts .json, .jsonl, .md, .yml, .yaml, .txt, .conll files.")
  }

  def loadConfig(path: Option[String]): CrfConfig = path match {
    case None => CrfConfig()
    case Some(p) => ConfigJson.parse(java.nio.file.Files.readString(java.nio.file.Paths.get(p)))
  }
}

/** Train CLI — reference `python -m spacy_crfsuite.train`
  * (`/root/reference/spacy_crfsuite/train.py:71-129`).
  *
  * Usage: TrainCli <in_file> [-c config.json] [-o out_dir] [--no-bilou] [-ft | --fine-tune]
  */
object TrainCli {
  def main(args: Array[String]): Unit = {
    val (opts, pos) = Cli.parse(args, Set("-c", "-o", "--no-bilou", "-ft", "--fine-tune"))
    require(pos.length == 1, "usage: TrainCli <in_file> [-c config.json] [-o out_dir] [--no-bilou]")
    val config = Readers.loadConfig(opts.get("-c"))
    val bilou = !opts.contains("--no-bilou") && config.bilou
    val examples = Readers.readFile(pos.head)
    println(s"[train] loaded ${examples.length} training examples from ${pos.head}")
    val tuned =
      if (opts.contains("-ft") || opts.contains("--fine-tune")) {
        // reference train.py -ft: RandomizedSearchCV over c1/c2, then retrain
        val r = graft.crf.FineTune.run(examples, config, cv = 5, nIter = 30, seed = 42L, bilou = bilou)
        println(f"[train] fine-tuned hyper params: c1=${r.best.c1}%.5f c2=${r.best.c2}%.5f (cv weighted-F1 ${r.best.meanF1}%.3f)")
        config.copy(c1 = r.best.c1, c2 = r.best.c2)
      } else config
    val t0 = System.nanoTime()
    val model = Trainer.trainExamples(examples, tuned, bilou)
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"[train] trained CRF: ${model.labels.length} labels, ${model.stateW.size} state attributes, in $secs%.1f s")
    val out = opts.getOrElse("-o", ".") + "/model.json"
    ModelIO.save(model, out)
    println(s"[train] saved model to $out")
  }
}

/** Eval CLI — reference `python -m spacy_crfsuite.eval`
  * (`/root/reference/spacy_crfsuite/eval.py:22-55`).
  *
  * Usage: EvalCli <in_file> -m model.json [--no-bilou] [--explain]
  */
object EvalCli {
  def main(args: Array[String]): Unit = {
    val (opts, pos) = Cli.parse(args, Set("-m", "--no-bilou", "--explain"))
    require(pos.length == 1 && opts.contains("-m"), "usage: EvalCli <in_file> -m model.json [--no-bilou]")
    val model = ModelIO.load(opts("-m"))
    val bilou = !opts.contains("--no-bilou") && model.config.bilou
    if (opts.contains("--explain")) println(model.explain())
    val examples = Readers.readFile(pos.head)
    println(s"[eval] loaded ${examples.length} eval examples from ${pos.head}")
    val report = graft.crf.EvalReport.evalExamples(model, examples, bilou)
    println(report.formatted)
  }
}

private[run] object Cli {
  /** `(options, positionals)` of a command line; any option not in `known`
    * fails. */
  def parse(args: Array[String], known: Set[String]): (Map[String, String], IndexedSeq[String]) = {
    val opts = scala.collection.mutable.Map.empty[String, String]
    val pos = IndexedSeq.newBuilder[String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (a.startsWith("-")) {
        // value-taking option when a non-dash token follows — or a NEGATIVE
        // NUMBER ("--min-logp -5.0"); bare flag otherwise
        val hasValue = i + 1 < args.length &&
          (!args(i + 1).startsWith("-") || args(i + 1).matches("-[0-9][0-9.eE-]*"))
        if (hasValue) { opts(a) = args(i + 1); i += 2 }
        else { opts(a) = "true"; i += 1 }
      } else { pos += a; i += 1 }
    }
    val unknown = opts.keySet -- known
    require(unknown.isEmpty, s"unknown option ${unknown.toSeq.sorted.mkString(", ")}; " +
      s"known: ${known.toSeq.sorted.mkString(" ")}")
    (opts.toMap, pos.result())
  }
}
