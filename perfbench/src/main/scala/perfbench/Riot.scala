package perfbench

/** Seeded documents shaped like Riot's match-v5 API: a match document with
  * ten participants (wide `challenges`, `missions` and `perks` structs) and
  * a timeline document with one frame per minute, each frame holding ten
  * `participantFrames`.
  *
  * Every value is a pure function of (seed, key), so a document is the same
  * whichever order it is generated in, and the field set never depends on
  * the seed: the flattened `player_data` column set is fixed. */
object Riot {

  /** SplitMix64 finalizer. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def hash(seed: Long, parts: Long*): Long =
    parts.foldLeft(mix(seed))((acc, p) => mix(acc ^ mix(p)))

  /** Uniform draw in [0, 1). */
  def unit(seed: Long, parts: Long*): Double =
    (hash(seed, parts: _*) >>> 11).toDouble / (1L << 53).toDouble

  /** Uniform integer in [0, n). */
  def pick(seed: Long, n: Int, parts: Long*): Int =
    java.lang.Long.remainderUnsigned(hash(seed, parts: _*), n.toLong).toInt

  private def strKey(s: String): Long = {
    var h = 1125899906842597L
    s.foreach(c => h = 31 * h + c)
    h
  }

  val Champions: IndexedSeq[String] = IndexedSeq("Ahri", "Garen", "Jinx", "Lux",
    "Thresh", "LeeSin", "Yasuo", "Ezreal", "Leona", "Darius", "Orianna", "Vayne",
    "Sejuani", "Kaisa", "Nautilus", "Viego", "Syndra", "Renekton", "Lulu", "Zed")
  private val Positions = IndexedSeq("TOP", "JUNGLE", "MIDDLE", "BOTTOM", "UTILITY")

  /** Challenge fields, integer-valued then double-valued. */
  private val IntChallenges = IndexedSeq("abilityUses", "bountyGold", "controlWardsPlaced",
    "damageTakenOnTeamPercentile", "doubleAces", "enemyChampionImmobilizations",
    "epicMonsterSteals", "firstTurretKilled", "killingSprees", "laneMinionsFirst10Minutes",
    "multikills", "outnumberedKills", "perfectGame", "quickSoloKills", "skillshotsDodged",
    "skillshotsHit", "soloKills", "stealthWardsPlaced", "takedowns", "turretPlatesTaken",
    "visionScoreAdvantageLaneOpponent", "wardTakedowns")
  private val DoubleChallenges = IndexedSeq("damagePerMinute", "goldPerMinute", "kda",
    "killParticipation", "teamDamagePercentage", "visionScorePerMinute",
    "damageTakenOnTeamPercentage", "effectiveHealAndShielding")

  private def appendStr(sb: StringBuilder, s: String): Unit = {
    sb.append('"').append(s).append('"'); ()
  }

  private def fmt2(v: Double): String = {
    val cents = math.round(v * 100)
    s"${cents / 100}.${"%02d".format(math.abs(cents % 100))}"
  }

  /** One match document (one line, no trailing newline). */
  def matchDoc(seed: Long, matchId: String, creationMs: Long,
      puuids: IndexedSeq[String], source: Option[String]): String = {
    require(puuids.length == 10, s"a match has 10 participants, got ${puuids.length}")
    val k = strKey(matchId)
    val duration = 1200 + pick(seed, 1500, k, 1)
    val blueWins = unit(seed, k, 2) < 0.5
    val sb = new StringBuilder(16384)
    sb.append("""{"metadata":{"dataVersion":"2","matchId":""")
    appendStr(sb, matchId)
    sb.append(""","participants":[""")
    puuids.zipWithIndex.foreach { case (p, i) => if (i > 0) sb.append(','); appendStr(sb, p) }
    sb.append("""]},"info":{"gameCreation":""").append(creationMs)
      .append(""","gameDuration":""").append(duration)
      .append(""","gameEndTimestamp":""").append(creationMs + duration * 1000L + 30000L)
      .append(""","gameMode":"CLASSIC","gameVersion":"15.14.693.4213","mapId":11,""")
      .append(""""platformId":"NA1","queueId":420,"participants":[""")
    puuids.zipWithIndex.foreach { case (p, i) =>
      if (i > 0) sb.append(',')
      participant(sb, seed, k, i, p, win = (i < 5) == blueWins)
    }
    sb.append("""],"teams":[""")
    Seq(100, 200).zipWithIndex.foreach { case (team, t) =>
      if (t > 0) sb.append(',')
      sb.append("""{"teamId":""").append(team).append(""","win":""")
        .append((t == 0) == blueWins).append(""","objectives":{""")
      Seq("baron", "champion", "dragon", "inhibitor", "riftHerald", "tower").zipWithIndex
        .foreach { case (o, j) =>
          if (j > 0) sb.append(',')
          sb.append('"').append(o).append("""":{"first":""")
            .append(unit(seed, k, 10 + t, j) < 0.5).append(""","kills":""")
            .append(pick(seed, 12, k, 20 + t, j)).append('}')
        }
      sb.append("}}")
    }
    sb.append("]}")
    source.foreach { s => sb.append(""","source":"""); appendStr(sb, s) }
    sb.append('}')
    sb.toString
  }

  private def participant(sb: StringBuilder, seed: Long, k: Long, i: Int,
      puuid: String, win: Boolean): Unit = {
    def n(bound: Int, tag: Int): Int = pick(seed, bound, k, 100 + i, tag)
    sb.append("""{"puuid":""")
    appendStr(sb, puuid)
    sb.append(""","participantId":""").append(i + 1)
      .append(""","teamId":""").append(if (i < 5) 100 else 200)
      .append(""","teamPosition":""")
    appendStr(sb, Positions(i % 5))
    sb.append(""","championName":""")
    appendStr(sb, Champions(n(Champions.length, 1)))
    sb.append(""","championId":""").append(1 + n(900, 2))
      .append(""","win":""").append(win)
      .append(""","kills":""").append(n(20, 3))
      .append(""","deaths":""").append(n(15, 4))
      .append(""","assists":""").append(n(25, 5))
      .append(""","champLevel":""").append(6 + n(13, 6))
      .append(""","goldEarned":""").append(5000 + n(15000, 7))
      .append(""","totalMinionsKilled":""").append(n(300, 8))
      .append(""","totalDamageDealtToChampions":""").append(3000 + n(50000, 9))
      .append(""","visionScore":""").append(n(80, 10))
    (0 until 7).foreach(j => sb.append(s""","item$j":""").append(n(7000, 20 + j)))
    sb.append(""","challenges":{""")
    IntChallenges.zipWithIndex.foreach { case (c, j) =>
      if (j > 0) sb.append(',')
      sb.append('"').append(c).append("\":").append(n(40, 40 + j))
    }
    DoubleChallenges.zipWithIndex.foreach { case (c, j) =>
      sb.append(",\"").append(c).append("\":")
        .append(fmt2(unit(seed, k, 100 + i, 80 + j) * 1000))
    }
    sb.append(""","legendaryItemUsed":[""")
    (0 until 1 + n(3, 99)).foreach(j => { if (j > 0) sb.append(','); sb.append(3000 + n(200, 90 + j)) })
    sb.append("""]},"missions":{""")
    (0 until 12).foreach { j =>
      if (j > 0) sb.append(',')
      sb.append("\"playerScore").append(j).append("\":").append(n(100, 120 + j))
    }
    sb.append("""},"perks":{"statPerks":{"defense":""").append(5000 + n(12, 140))
      .append(""","flex":""").append(5000 + n(12, 141))
      .append(""","offense":""").append(5000 + n(12, 142))
      .append("""},"styles":[""")
    Seq(("primaryStyle", 4), ("subStyle", 2)).zipWithIndex.foreach { case ((d, sel), s) =>
      if (s > 0) sb.append(',')
      sb.append("""{"description":"""")
        .append(d).append("""","style":""").append(8000 + 100 * n(5, 150 + s))
        .append(""","selections":[""")
      (0 until sel).foreach { j =>
        if (j > 0) sb.append(',')
        sb.append("""{"perk":""").append(8000 + n(500, 160 + 10 * s + j))
          .append(""","var1":""").append(n(1000, 180 + 10 * s + j))
          .append(""","var2":""").append(n(100, 200 + 10 * s + j))
          .append(""","var3":""").append(n(10, 220 + 10 * s + j)).append('}')
      }
      sb.append("]}")
    }
    sb.append("]}}")
    ()
  }

  /** One timeline document: `frames` one-minute frames of ten
    * participantFrames each, plus a few events per frame. */
  def timelineDoc(seed: Long, matchId: String, creationMs: Long,
      puuids: IndexedSeq[String], frames: Int): String = {
    val k = strKey(matchId)
    val sb = new StringBuilder(frames * 4200)
    sb.append("""{"metadata":{"dataVersion":"2","matchId":""")
    appendStr(sb, matchId)
    sb.append("""},"info":{"endOfGameResult":"GameComplete","frameInterval":60000,""")
      .append(""""gameId":""").append(k & 0xFFFFFFFFL).append(""","participants":[""")
    puuids.zipWithIndex.foreach { case (p, i) =>
      if (i > 0) sb.append(',')
      sb.append("""{"participantId":""").append(i + 1).append(""","puuid":""")
      appendStr(sb, p)
      sb.append('}')
    }
    sb.append("""],"frames":[""")
    (0 until frames).foreach { f =>
      if (f > 0) sb.append(',')
      val ts = f * 60000L
      sb.append("""{"timestamp":""").append(ts).append(""","events":[""")
      (0 until 1 + pick(seed, 3, k, f, 1)).foreach { e =>
        if (e > 0) sb.append(',')
        sb.append("""{"type":"""")
          .append(if (pick(seed, 2, k, f, 2, e) == 0) "ITEM_PURCHASED" else "SKILL_LEVEL_UP")
          .append("""","timestamp":""").append(ts + 1000 * (e + 1))
          .append(""","realTimestamp":""").append(creationMs + ts + 1000 * (e + 1))
          .append(""","participantId":""").append(1 + pick(seed, 10, k, f, 3, e)).append('}')
      }
      sb.append("""],"participantFrames":{""")
      (1 to 10).foreach { p =>
        def n(bound: Int, tag: Int): Int = pick(seed, bound, k, f * 16 + p, tag)
        if (p > 1) sb.append(',')
        sb.append('"').append(p).append("""":{"championStats":{"abilityPower":""").append(n(600, 1))
          .append(""","armor":""").append(20 + n(200, 2))
          .append(""","attackDamage":""").append(50 + n(300, 3))
          .append(""","attackSpeed":""").append(100 + n(150, 4))
          .append(""","health":""").append(500 + n(3000, 5))
          .append(""","healthMax":""").append(600 + n(3000, 6))
          .append(""","magicResist":""").append(30 + n(120, 7))
          .append(""","movementSpeed":""").append(325 + n(150, 8))
          .append("""},"damageStats":{"magicDamageDone":""").append(n(40000, 9))
          .append(""","physicalDamageDone":""").append(n(40000, 10))
          .append(""","totalDamageDone":""").append(n(90000, 11))
          .append(""","totalDamageDoneToChampions":""").append(n(30000, 12))
          .append(""","totalDamageTaken":""").append(n(40000, 13))
          .append(""","trueDamageDone":""").append(n(5000, 14))
          .append("""},"currentGold":""").append(n(3000, 15))
          .append(""","goldPerSecond":""").append(n(10, 16))
          .append(""","jungleMinionsKilled":""").append(n(150, 17))
          .append(""","level":""").append(1 + math.min(17, f / 2 + n(2, 18)))
          .append(""","minionsKilled":""").append(n(300, 19))
          .append(""","position":{"x":""").append(n(15000, 20))
          .append(""","y":""").append(n(15000, 21))
          .append("""},"timeEnemySpentControlled":""").append(n(60000, 22))
          .append(""","totalGold":""").append(500 + f * 350 + n(300, 23))
          .append(""","xp":""").append(f * 400 + n(400, 24)).append('}')
      }
      sb.append("}}")
    }
    sb.append("]}}")
    sb.toString
  }
}
