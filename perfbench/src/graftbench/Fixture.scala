package graftbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Loopback JSON-RPC fixture for the seeded fleet, on one server
  * thread. It serves the generation the harness selects, scoped by the
  * request: `/<vco>/portal/` (driver-side calls) or a `"vco"` param
  * (the DSv2 reader), an `"enterpriseId"` param narrows edges to one
  * customer, and the `"with"` list projects edge expansions.
  *
  * Faults are deterministic, keyed on (method, params, attempt): a
  * seeded share of FIRST attempts answers a JSON-RPC error, and every
  * edge request carrying the `licenses` expansion fails on one VCO, so
  * the retry path and the licenses-less fallback run in every phase.
  */
class Fixture(fleetFile: java.nio.file.Path, plan: JsonNode) {
  private val om = new ObjectMapper()
  private val fleet: JsonNode = om.readTree(fleetFile.toFile)
  private val seed = plan.get("seed").asLong()
  private val faultPercent = plan.get("fault_percent").asInt()
  private val noLicenseVco = plan.get("no_license_vco").asText()
  private val Expansions = Set("site", "configuration", "recentLinks", "vnfs",
    "licenses", "cloudServices")
  private val attempts = new ConcurrentHashMap[String, AtomicInteger]()
  // rendered result per request, so a repeated call costs the fixture
  // only the copy onto the socket
  private val results = new ConcurrentHashMap[String, String]()
  @volatile var generation = "A"

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/", (x: HttpExchange) => handle(x))
  // the default executor runs every exchange on the server thread
  server.start()

  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  def resetAttempts(): Unit = attempts.clear()
  def stop(): Unit = server.stop(0)

  private def faulty(method: String, params: String, attempt: Int): Boolean =
    attempt == 0 && {
      val d = MessageDigest.getInstance("MD5")
        .digest(s"$seed|$method|$params|$attempt".getBytes(UTF_8))
      ((d(0) & 0xff) * 256 + (d(1) & 0xff)) % 100 < faultPercent
    }

  private def handle(x: HttpExchange): Unit = {
    val body = new String(x.getRequestBody.readAllBytes(), UTF_8)
    val resp =
      try {
        val req = om.readTree(body)
        require(x.getRequestHeaders.getFirst("Authorization") ==
          s"Token ${Probe.Token}", "bad auth")
        val method = req.get("method").asText()
        val params = req.get("params")
        val paramsText = om.writeValueAsString(params)
        val pathVco = x.getRequestURI.getPath.split("/").filter(_.nonEmpty)
          .headOption.filter(_ != "portal")
        val vco = pathVco.orElse(Option(params.get("vco")).map(_.asText()))
          .getOrElse(throw new IllegalArgumentException("no vco"))
        val gen = generation
        val attempt = attempts.computeIfAbsent(s"$gen|$vco|$method|$paramsText",
          _ => new AtomicInteger).getAndIncrement()
        val withList = Option(params.get("with")).map(_.elements().asScala
          .map(_.asText()).toSet)
        if (faulty(s"$gen|$vco|$method", paramsText, attempt))
          error(req, "transient fault")
        else if (method == "enterprise/getEnterpriseEdges" && vco == noLicenseVco &&
            withList.exists(_.contains("licenses")))
          error(req, "licenses expansion unavailable")
        else {
          val result = results.computeIfAbsent(s"$gen|$vco|$method|$paramsText", _ => {
            val docs = fleet.get(gen).get(vco).get(method)
            require(docs != null, s"unknown method $method")
            val out = om.createArrayNode()
            docs.elements().asScala.foreach { d =>
              if (method == "enterprise/getEnterpriseEdges")
                edge(d, params, withList).foreach(out.add)
              else out.add(d)
            }
            om.writeValueAsString(out)
          })
          s"""{"jsonrpc":"2.0","id":${req.get("id")},"result":$result}"""
        }
      } catch {
        case e: Exception => s"""{"jsonrpc":"2.0","error":{"message":${om.writeValueAsString(e.toString)}}}"""
      }
    val bytes = resp.getBytes(UTF_8)
    x.sendResponseHeaders(200, bytes.length)
    x.getResponseBody.write(bytes)
    x.close()
  }

  private def error(req: JsonNode, msg: String): String =
    s"""{"jsonrpc":"2.0","id":${req.get("id")},"error":{"code":-32603,"message":"$msg"}}"""

  /** Customer scoping and `with` projection of one edge document. */
  private def edge(d: JsonNode, params: JsonNode,
      withList: Option[Set[String]]): Option[JsonNode] = {
    val ent = Option(params.get("enterpriseId")).map(_.asLong())
    if (ent.exists(id => customerId(d.get("enterpriseId").asText()) != id)) None
    else {
      val o = d.deepCopy[ObjectNode]()
      withList.foreach { w =>
        Expansions.diff(w).foreach(o.remove(_))
      }
      Some(o)
    }
  }

  private lazy val customerIds: Map[String, Long] =
    fleet.get("A").elements().asScala.flatMap { v =>
      v.get("network/getNetworkEnterprises").elements().asScala
        .filter(c => !c.get("logicalId").isNull)
        .map(c => c.get("logicalId").asText() -> c.get("id").asLong())
    }.toMap

  private def customerId(logical: String): Long = customerIds.getOrElse(logical, -1L)
}
