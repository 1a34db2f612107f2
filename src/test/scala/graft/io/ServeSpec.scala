package graft.io

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.scalatest.funsuite.AnyFunSuite

/** HTTP serving surface (ref serve.py:13-93): /status shape, /parse with a
  * single string and a batch, entity fields and offsets. */
class ServeSpec extends AnyFunSuite {

  private lazy val model = {
    val examples = graft.crf.RestaurantCorpus.examples
    graft.crf.Trainer.trainExamples(examples, graft.crf.CrfConfig.restaurantConfig)
  }

  test("GET /status and POST /parse round-trip") {
    val port = {
      val s = new java.net.ServerSocket(0)
      try s.getLocalPort finally s.close()
    }
    val server = graft.run.ServeCli.start(model, port, "model.json")
    try {
      val client = HttpClient.newHttpClient()
      val status = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/status")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(status.statusCode() === 200)
      assert(status.body() === """{"status":"OK","crf_model":"model.json"}""")

      def parse(body: String): String = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/parse"))
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString()).body()

      // single string (ref Request.text: str)
      val single = parse("""{"text": "show me chinese restaurants"}""")
      assert(single ===
        """{"data":[{"text":"show me chinese restaurants","entities":""" +
          """[{"start":8,"end":15,"value":"chinese","entity":"cuisine"}]}]}""")

      // batch (ref Request.text: List[str]); second sentence has no entities
      val batch = parse("""{"text": ["show me chinese restaurants", "hello there"]}""")
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(batch)
      assert(node.get("data").size() === 2)
      assert(node.get("data").get(0).get("entities").size() === 1)
      assert(node.get("data").get(1).get("entities").size() === 0)

      // /visualize renders highlighted entities as HTML (ref visualize.py analog)
      val viz = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://localhost:$port/visualize?text=" +
            java.net.URLEncoder.encode("show me chinese restaurants", "UTF-8"))).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(viz.statusCode() === 200)
      assert(viz.headers().firstValue("Content-Type").orElse("").startsWith("text/html"))
      assert(viz.body().contains("<mark") && viz.body().contains("chinese")
        && viz.body().contains("cuisine"))

      // malformed request → 400 with an error body
      val bad = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/parse"))
          .POST(HttpRequest.BodyPublishers.ofString("""{"nope": 1}""")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(bad.statusCode() === 400)
    } finally server.stop(0)
  }

  test("POST /triples runs the shared page-local KG chain") {
    val kgModel = graft.kg.KgPipeline.trainModel(42L, nTrain = 200)
    val port = {
      val s = new java.net.ServerSocket(0)
      try s.getLocalPort finally s.close()
    }
    val server = graft.run.ServeCli.start(kgModel, port, "kg-model.json")
    try {
      val client = HttpClient.newHttpClient()
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port/triples"))
          .POST(HttpRequest.BodyPublishers.ofString(
            """{"text": "Alice Johnson works at Hooli in Berlin ."}""")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() === 200)
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(resp.body())
      val triples = node.get("data").get(0).get("triples")
      val found = (0 until triples.size()).map { i =>
        val t = triples.get(i)
        (t.get("subj").asText(), t.get("pred").asText(), t.get("obj").asText())
      }.toSet
      assert(found.contains(("PER:Alice_Johnson", "works_at", "ORG:Hooli")), found.toString)
      assert(found.contains(("ORG:Hooli", "located_in", "LOC:Berlin")), found.toString)
      assert(triples.get(0).get("conf").asDouble() > 0.0)
    } finally server.stop(0)
  }
}
