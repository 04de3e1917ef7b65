package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.Charset
import java.nio.file.{Files, Path}

import scala.util.Random

/** Seeded generator of one synthetic electoral period in the psp.cz UNL
  * layout that `graft.psp.PeriodLoader` reads: windows-1250,
  * pipe-delimited, trailing pipe, Czech diacritics in names and titles.
  * Reference scale by default: 200 MPs in 8 clubs (including the aliased
  * `ANO2011` and `Nezařaz`), 10,000 votes, one row per MP and vote
  * (2·10⁶ rows, in two files), about 1 % of votes void. The same seed
  * writes byte-identical files.
  */
object PspDump {
  val Period = 10
  val OrganId = 174 // graft.psp.Periods.organIds(10)

  case class Scale(mps: Int = 200, votes: Int = 10000, voidShare: Double = 0.01)

  val Clubs: Seq[(Int, String, String)] = Seq(
    (201, "ANO2011", "Klub ANO 2011"), (202, "ODS", "Klub Občanské demokratické strany"),
    (203, "STAN", "Klub Starostové a nezávislí"), (204, "KDU-ČSL", "Klub KDU-ČSL"),
    (205, "TOP09", "Klub TOP 09"), (206, "Piráti", "Klub České pirátské strany"),
    (207, "SPD", "Klub Svoboda a přímá demokracie"), (208, "Nezařaz", "Nezařazení poslanci"))

  private val Surnames = Seq("Novák", "Svoboda", "Dvořák", "Černý", "Procházka",
    "Kučera", "Veselý", "Horák", "Němec", "Pokorný", "Marek", "Pospíšil",
    "Hájek", "Jelínek", "Král", "Růžička", "Beneš", "Fiala", "Sedláček",
    "Doležal", "Zeman", "Kolář", "Navrátil", "Čermák", "Vaněk", "Urban",
    "Blažek", "Kříž", "Kovář", "Bartoš", "Vlček", "Polák", "Musil", "Šimek")
  private val Given = Seq("Jan", "Petr", "Jiří", "Pavel", "Tomáš", "Martin",
    "Jaroslav", "Miroslav", "Zdeněk", "Václav", "Michal", "František", "Jana",
    "Marie", "Eva", "Hana", "Anna", "Lenka", "Kateřina", "Věra", "Lucie",
    "Alena", "Petra", "Markéta", "Šárka", "Radek", "Ondřej", "Vít")
  private val Topics = Seq("o daních z příjmů", "o zdravotním pojištění",
    "o státním rozpočtu", "o ochraně přírody a krajiny", "o silničním provozu",
    "o veřejných zakázkách", "o sociálních službách", "o vysokých školách",
    "o obcích", "o střetu zájmů", "o energetice", "o kybernetické bezpečnosti")

  /** Writes the period under `root` and returns the number of member-vote rows. */
  def write(root: Path, seed: Long, scale: Scale = Scale()): Long = {
    val rnd = new Random(seed)
    val cp = Charset.forName("windows-1250")
    def file(sub: String, name: String)(body: BufferedWriter => Unit): Unit = {
      val d = root.resolve(sub)
      Files.createDirectories(d)
      val w = new BufferedWriter(new OutputStreamWriter(
        Files.newOutputStream(d.resolve(name)), cp), 1 << 16)
      try body(w) finally w.close()
    }
    def line(w: BufferedWriter, fields: Any*): Unit = {
      w.write(fields.mkString("|")); w.write("|\n")
    }

    // club sizes roughly like a real chamber: a few big clubs, a small
    // unaffiliated group
    val clubWeights = Seq(0.33, 0.16, 0.14, 0.11, 0.09, 0.08, 0.06, 0.03)
    val clubOf: IndexedSeq[Int] = (0 until scale.mps).map { _ =>
      val u = rnd.nextDouble()
      clubWeights.scanLeft(0.0)(_ + _).tail.indexWhere(u < _) match {
        case -1 => clubWeights.size - 1
        case i => i
      }
    }
    file("poslanci", "osoby.unl") { w =>
      (0 until scale.mps).foreach { i =>
        line(w, 5000 + i, "", Surnames(rnd.nextInt(Surnames.size)),
          Given(rnd.nextInt(Given.size)), "",
          f"${1950 + rnd.nextInt(45)}-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02d",
          if (rnd.nextBoolean()) "M" else "Ž", "", "")
      }
    }
    file("poslanci", "poslanec.unl") { w =>
      (0 until scale.mps).foreach { i =>
        line(w, 1 + i, 5000 + i, 1 + rnd.nextInt(14), 1 + rnd.nextInt(30),
          OrganId, "", "", "Praha", "", "", "", "", "", "", "")
      }
    }
    file("poslanci", "organy.unl") { w =>
      Clubs.foreach { case (id, short, name) =>
        line(w, id, 0, 1, short, name, "", "2025-10-04", "", 1, 0)
      }
    }
    file("poslanci", "zarazeni.unl") { w =>
      (0 until scale.mps).foreach { i =>
        // one in ten MPs switched clubs; the later membership wins
        if (rnd.nextInt(10) == 0) {
          val earlier = Clubs(rnd.nextInt(Clubs.size))._1
          line(w, 5000 + i, earlier, 0, "2025-10-04", "2026-03-01", "", "")
          line(w, 5000 + i, Clubs(clubOf(i))._1, 0, "2026-03-02", "", "", "")
        } else line(w, 5000 + i, Clubs(clubOf(i))._1, 0, "2025-10-04", "", "", "")
      }
    }

    val sessions = 40
    val itemsPerSession = 25
    file("schuze", "schuze.unl") { w =>
      (1 to sessions).foreach(s =>
        line(w, 900 + s, OrganId, s, f"${1 + s % 28}.${1 + s % 12}.2026", "", "", ""))
    }
    file("schuze", "bod_schuze.unl") { w =>
      for (s <- 1 to sessions; b <- 1 to itemsPerSession)
        line(w, s * 1000 + b, 900 + s, 40000 + (s * itemsPerSession + b) % 600,
          1, b, s"Vládní návrh zákona ${Topics((s + b) % Topics.size)}", "", "",
          5, "", "", "", "", "", "")
    }
    file("tisky", "tisky.unl") { w =>
      (0 until 600).foreach { t =>
        line(w, 40000 + t, 1, 1, 100 + t, 1, 1, OrganId, OrganId, 1, "Vláda",
          s"Návrh zákona ${Topics(t % Topics.size)}", "2026-01-15", "", "", "",
          1, "", "", "", "", "", "", "", "")
      }
    }

    // each vote: every club takes a line (yes/no/abstain); an MP follows
    // the club line most of the time, rebels sometimes, and is absent,
    // excused or silent now and then
    val voteClubLine = Array.ofDim[Int](scale.votes, Clubs.size)
    file(s"hl-$Period", s"hl${2025}s.unl") { w =>
      (0 until scale.votes).foreach { v =>
        val s = 1 + v * sessions / scale.votes
        val b = 1 + v % itemsPerSession
        (0 until Clubs.size).foreach(c => voteClubLine(v)(c) = rnd.nextInt(10) match {
          case x if x < 6 => 0 // A
          case x if x < 9 => 1 // B
          case _ => 2 // C
        })
        val pro = 80 + rnd.nextInt(40)
        val proti = 40 + rnd.nextInt(40)
        val topic = Topics(rnd.nextInt(Topics.size))
        line(w, 90000 + v, OrganId, s, 1 + v % 400, b,
          f"${1 + v % 28}.${1 + (v / 28) % 12}.2026", f"${9 + v % 9}%02d:${v % 60}%02d",
          pro, proti, 200 - pro - proti - 10, 10, 190, 96, "N",
          if (pro >= 96) "A" else "R", s"Hlasování o návrhu zákona $topic",
          s"Zákon $topic")
      }
    }
    val codes = Array("A", "B", "C")
    var rows = 0L
    val half = scale.votes / 2
    Seq(("hl2025h1.unl", 0 until half), ("hl2025h2.unl", half until scale.votes))
      .foreach { case (name, range) =>
        file(s"hl-$Period", name) { w =>
          range.foreach { v =>
            (0 until scale.mps).foreach { i =>
              val u = rnd.nextInt(1000)
              val code =
                if (u < 60) "@" else if (u < 90) "M" else if (u < 100) "F"
                else if (u < 140) codes(rnd.nextInt(3))
                else codes(voteClubLine(v)(clubOf(i)))
              line(w, 1 + i, 90000 + v, code)
              rows += 1
            }
          }
        }
      }
    file(s"hl-$Period", "zmatecne.unl") { w =>
      (0 until scale.votes).filter(_ => rnd.nextDouble() < scale.voidShare)
        .foreach(v => line(w, 90000 + v))
    }
    rows
  }
}
