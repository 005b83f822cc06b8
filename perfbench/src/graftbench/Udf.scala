package graftbench

import java.util.concurrent.atomic.AtomicLong

import graft.udf.WasmHost
import graft.udf.wasm.WasmAssembler

/** The guest the edge pipeline runs: real WebAssembly, interpreted by
  * `WasmModule.Interpreted`, that upper-cases ASCII letters in place
  * (bytes→bytes ABI: payload at ptr, returns its length). Registered
  * through a counting factory so the run can report the `udf.*` layer. */
object Udf {
  val ModuleId = "graftbench_upper"
  val Export = "upper"

  // locals: 0 ptr, 1 len, 2 i, 3 byte
  private val body: Seq[Byte] = Seq(
    0x02, 0x40, 0x03, 0x40,                         // block, loop
    0x20, 0x02, 0x20, 0x01, 0x4f, 0x0d, 0x01,       // i >= len → exit
    0x20, 0x00, 0x20, 0x02, 0x6a, 0x2d, 0x00, 0x00, // load8_u(ptr + i)
    0x21, 0x03,
    0x20, 0x03, 0x41, 0xe1, 0x00, 0x6b, 0x41, 0x1a, 0x49, // byte - 'a' < 26
    0x04, 0x40,
    0x20, 0x00, 0x20, 0x02, 0x6a,                   // ptr + i
    0x20, 0x03, 0x41, 0x20, 0x6b, 0x3a, 0x00, 0x00, // store8(byte - 32)
    0x0b,
    0x20, 0x02, 0x41, 0x01, 0x6a, 0x21, 0x02,       // i += 1
    0x0c, 0x00, 0x0b, 0x0b,                         // br loop; end; end
    0x20, 0x01                                      // return len
  ).map(_.toByte)

  val moduleBytes: Array[Byte] = WasmAssembler.module(Export, nParams = 2, nLocals = 2, body)

  /** What the guest should return for `payload`. */
  def expected(payload: Array[Byte]): Array[Byte] =
    payload.map(b => if (b >= 'a' && b <= 'z') (b - 32).toByte else b)

  val invokes, invokeNs, instances, instantiateNs = new AtomicLong()

  final class Counting(inner: WasmHost.WasmModule) extends WasmHost.WasmModule {
    def invoke(func: String, payload: Array[Byte]): Array[Byte] = {
      val t0 = System.nanoTime()
      try inner.invoke(func, payload)
      finally { invokes.incrementAndGet(); invokeNs.addAndGet(System.nanoTime() - t0) }
    }
  }

  /** The factory instantiates eagerly (one empty call forces the
    * interpreter's lazy set-up) so instantiation is timed on its own. */
  def register(): Unit = {
    val bytes = moduleBytes
    WasmHost.register(ModuleId, () => {
      val t0 = System.nanoTime()
      val m = new WasmHost.WasmModule.Interpreted(bytes)
      m.invoke(Export, Array.emptyByteArray)
      instances.incrementAndGet()
      instantiateNs.addAndGet(System.nanoTime() - t0)
      new Counting(m)
    })
  }

  def counters(): Map[String, Double] = Map(
    "invokes" -> invokes.get.toDouble, "invoke_ns" -> invokeNs.get.toDouble,
    "instances" -> instances.get.toDouble, "instantiate_ns" -> instantiateNs.get.toDouble)

  def report(r: Report, before: Map[String, Double], after: Map[String, Double]): Unit = {
    def d(k: String) = after(k) - before(k)
    r.put("udf.invokes", d("invokes"), "count")
    r.put("udf.invoke_us_mean", if (d("invokes") > 0) d("invoke_ns") / d("invokes") / 1e3 else 0, "us")
    r.put("udf.instances", d("instances"), "count")
    r.put("udf.instantiate_ms",
      if (d("instances") > 0) d("instantiate_ns") / d("instances") / 1e6 else 0, "ms")
  }
}
