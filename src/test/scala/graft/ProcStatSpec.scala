package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's contention sampler tells kernel threads from user
  * processes by the PF_KTHREAD bit of `/proc/<pid>/stat`, never by the
  * command name alone, which any process can set; of the kernel threads
  * only the kworkers leave its breach signal. */
class ProcStatSpec extends AnyFunSuite {

  import Bench.{ProcStat, isKworker, parseProcStat}

  /** A stat line with the given name, flags and utime/stime; the other
    * fields as a Linux 6.x kernel writes them. */
  private def line(pid: Int, comm: String, flags: Long, utime: Long, stime: Long): String =
    s"$pid ($comm) S 2 0 0 0 -1 $flags 0 0 0 0 $utime $stime 0 0 20 0 1 0 12 0 0 " +
      "18446744073709551615 0 0 0 0 0 0 0 2147483647 0 1 0 0 0 2 0 0 0 0 0 0 0 0 0 0 0 0 0\n"

  test("a kernel worker thread carries PF_KTHREAD") {
    // flags as read from a real kworker: 0x04208060
    assert(parseProcStat(line(45, "kworker/0:2-virtio_vsock", 69238880L, 7, 30)) ==
      Some(ProcStat("kworker/0:2-virtio_vsock", kernelThread = true, 37)))
    // kthreadd, as /proc/2/stat reads on the same kernel
    assert(parseProcStat(line(2, "kthreadd", 2129984L, 0, 0)).map(_.kernelThread) == Some(true))
  }

  test("a user process that names itself kworker/0:1 is not a kernel thread") {
    assert(parseProcStat(line(4242, "kworker/0:1", 4194304L, 150, 25)) ==
      Some(ProcStat("kworker/0:1", kernelThread = false, 175)))
  }

  test("only kernel threads named kworker leave the breach signal") {
    val kworker = parseProcStat(line(45, "kworker/0:2-events", 69238880L, 7, 30)).get
    val kcompactd = parseProcStat(line(38, "kcompactd0", 2129984L, 90, 400)).get
    val kswapd = parseProcStat(line(37, "kswapd0", 2129984L, 5, 900)).get
    val userKworker = parseProcStat(line(4242, "kworker/0:1", 4194304L, 150, 25)).get
    assert(isKworker(kworker))
    assert(kcompactd.kernelThread && !isKworker(kcompactd))
    assert(kswapd.kernelThread && !isKworker(kswapd))
    assert(!isKworker(userKworker))
  }

  test("a name with spaces and ')' does not shift the fields") {
    val comm = "a) b (c) 9 9 9"
    assert(parseProcStat(line(77, comm, 4194304L, 11, 4)) ==
      Some(ProcStat(comm, kernelThread = false, 15)))
  }

  test("malformed lines parse to None") {
    assert(parseProcStat("") == None)
    assert(parseProcStat("12 (short) S 1 2 3") == None)
    assert(parseProcStat("12 (bad) S 2 0 0 0 -1 flags 0 0 0 0 1 2 0") == None)
  }
}
