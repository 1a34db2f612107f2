package graft.crf

/** The reference's restaurant training corpus (its
  * `examples/restaurent_search.md`), vendored as the test resource
  * `/restaurant_search.md`. */
object RestaurantCorpus {

  def examples: IndexedSeq[Example] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/restaurant_search.md"), "UTF-8")
    try graft.io.MarkdownReader.read(src.mkString) finally src.close()
  }
}
