package graftbench

import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Minimal blocking HTTP client for driving `graft.api.HttpApi`. */
object Http {
  private val mapper = new ObjectMapper()

  final case class Resp(status: Int, body: String) {
    def json: JsonNode = mapper.readTree(if (body.isEmpty) "null" else body)
  }

  def call(method: String, url: String, body: String = null): Resp = {
    val c = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    try {
      c.setRequestMethod(method)
      c.setConnectTimeout(10000)
      c.setReadTimeout(120000)
      if (body != null) {
        c.setDoOutput(true)
        c.setRequestProperty("Content-Type", "application/json")
        val os = c.getOutputStream
        try os.write(body.getBytes(StandardCharsets.UTF_8)) finally os.close()
      }
      val code = c.getResponseCode
      val in = if (code >= 400) c.getErrorStream else c.getInputStream
      val text = if (in == null) "" else try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
      Resp(code, text)
    } finally c.disconnect()
  }
}
