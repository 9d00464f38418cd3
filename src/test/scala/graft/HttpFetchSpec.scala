package graft

import java.net.InetSocketAddress
import java.nio.file.Files
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.sources.HttpFetch

/** S1 parity (parquet_slicer.py:36-47): fetch a Parquet file over HTTP
  * and open it — exercised against a loopback server, no egress. */
class HttpFetchSpec extends SparkSpec {

  private def serve(bytes: Array[Byte])(body: String => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/data.parquet", new HttpHandler {
      def handle(x: HttpExchange): Unit = {
        x.sendResponseHeaders(200, bytes.length)
        x.getResponseBody.write(bytes)
        x.close()
      }
    })
    server.start()
    try body(s"http://localhost:${server.getAddress.getPort}/data.parquet")
    finally server.stop(0)
  }

  test("readParquetUrl streams a remote parquet into a DataFrame") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft_http").toString + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1).write.parquet(dir)
    val part = new java.io.File(dir).listFiles
      .filter(_.getName.endsWith(".parquet")).head
    val bytes = Files.readAllBytes(part.toPath)
    serve(bytes) { url =>
      val df = HttpFetch.readParquetUrl(spark, url)
      assert(df.count() == 2)
      assert(df.columns.toSeq == Seq("id", "v"))
    }
  }

  test("empty payloads are rejected like the reference's guard") {
    serve(Array.emptyByteArray) { url =>
      intercept[Exception] {
        HttpFetch.fetchToFile(url,
          SparkSpec.tempDir("graft_e").resolve("e.parquet"))
      }
    }
  }
}
