package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.connect.GraftConnectDispatch

/** The Python clients' method table (python/graft/api.py) against the
 * server's op table: the same ops, and per op the same keyword
 * arguments as the op's accepted params_json keys. api.py is read with
 * Python's `ast` in a subprocess, so nothing is imported or run.
 * Canceled, not failed, when python3 is unavailable. */
class ConnectPythonDriftSpec extends AnyFunSuite {

  // prints one line per op: name, then its keyword arguments, tab-separated
  private val script =
    """import ast, sys
      |ops = {}
      |for n in ast.walk(ast.parse(open(sys.argv[1]).read())):
      |    if (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
      |            and n.func.attr in ("_call", "_call2")):
      |        names = [a.value for a in n.args
      |                 if isinstance(a, ast.Constant) and isinstance(a.value, str)]
      |        ops.setdefault(names[0], set()).update(k.arg for k in n.keywords)
      |for op, keys in sorted(ops.items()):
      |    print("\t".join([op] + sorted(keys)))
      |""".stripMargin

  test("python/graft/api.py calls every op with exactly its accepted keys") {
    val out = try {
      val p = new ProcessBuilder("python3", "-c", script, "python/graft/api.py")
        .redirectErrorStream(true).start()
      val lines = scala.io.Source.fromInputStream(p.getInputStream).getLines().toList
      assert(p.waitFor() == 0, lines.mkString("\n"))
      lines
    } catch { case _: java.io.IOException => cancel("python3 not available") }
    val python = out.map(_.split('\t').toList).map(l => l.head -> l.tail.toSet).toMap
    val server = GraftConnectDispatch.acceptedParams ++ GraftConnectDispatch.pipelineParams
    assert(python.keySet == server.keySet,
      s"only in api.py: ${python.keySet -- server.keySet}; " +
        s"only on the server: ${server.keySet -- python.keySet}")
    val drift = server.toSeq.sortBy(_._1).collect {
      case (op, keys) if python(op) != keys =>
        s"$op: api.py lacks ${keys -- python(op)}, api.py adds ${python(op) -- keys}"
    }
    assert(drift.isEmpty, drift.mkString("\n"))
  }
}
