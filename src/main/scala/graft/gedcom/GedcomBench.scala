package graft.gedcom

import java.io.{BufferedWriter, FileWriter}

/** Synthetic GEDCOM input for the throughput legs measured against the
  * reference's headline number (~145 MB in ~6 s => ~24 MB/s single-node
  * parse->CSV, BASELINE.md): Bench's `gedcom_150m`/`gedcom_1g` legs
  * generate their files here, and `graft.tools.Prof --ged` profiles them.
  */
object GedcomBench {

  /** Deterministic synthetic family forest in standard GEDCOM shape. */
  def generate(path: String, targetBytes: Long): Long = {
    val w = new BufferedWriter(new FileWriter(path), 1 << 20)
    val rnd = new scala.util.Random(42)
    val surnames = Seq("Smith", "Jones", "Garcia", "Chen", "Okafor", "Ivanov")
    val givens = Seq("John", "Mary", "Wei", "Amara", "Olga", "Luis", "Aino")
    val places = Seq("Springfield", "Riverton", "SLAKE", "Portsmouth", "Oslo")
    var bytes = 0L
    var i = 0
    w.write("0 HEAD\n1 SOUR graft-bench\n1 GEDC\n2 VERS 5.5\n")
    while (bytes < targetBytes) {
      val fam = i / 2
      val rec = new StringBuilder()
        .append(s"0 @I$i@ INDI\n")
        .append(s"1 NAME ${givens(rnd.nextInt(givens.size))} /${surnames(rnd.nextInt(surnames.size))}/\n")
        .append(s"1 SEX ${if (i % 2 == 0) "M" else "F"}\n")
        .append("1 BIRT\n")
        .append(s"2 DATE ${1 + rnd.nextInt(28)} JAN ${1800 + rnd.nextInt(200)}\n")
        .append(s"2 PLAC ${places(rnd.nextInt(places.size))}\n")
        .append(s"1 OCCU worker$i\n")
        .append(s"1 NOTE synthetic note line for individual $i\n")
        .append(s"2 CONC  with a concatenated tail\n")
        .append(s"1 FAMS @F$fam@\n")
        .append(s"1 _UID ${rnd.nextLong().toHexString}\n")
      if (i % 2 == 1)
        rec.append(s"0 @F$fam@ FAM\n")
          .append(s"1 HUSB @I${i - 1}@\n1 WIFE @I$i@\n")
          .append(s"1 CHIL @I${i + 2}@\n1 MARR\n2 DATE 1900\n")
      val s = rec.toString()
      w.write(s)
      bytes += s.length
      i += 1
    }
    w.write("0 TRLR\n")
    w.close()
    new java.io.File(path).length()
  }
}
