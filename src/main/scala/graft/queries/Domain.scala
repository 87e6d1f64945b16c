package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.domain.{MatchTransform, Maintenance}
import graft.functions.Num

/** Driver-checked surface for the reference-domain layer: bronze-shaped
  * rows are synthesized DETERMINISTICALLY from `orders` (pure integer
  * arithmetic on o_orderkey), pushed through the real
  * MatchTransform.silver / goldFromSilver / Maintenance.repair
  * programs, and the DuckDB oracle recomputes the expected output
  * analytically from the same arithmetic — so the whole
  * explode → broadcast-dim-join → 3-tier match → window → derive
  * pipeline (SURVEY.md §2 J2/F3/P1/C1-C3/C11, §2.8 M2) is
  * differentially verified, not just unit-tested.
  *
  * Construction: participant A carries the tracked player; every 7th
  * order corrupts the in-match PUUID (the reference's "Key Mismatch",
  * extractor/main.py:421-424) forcing the tier-2 normalized-name
  * fallback; every 3rd order drops the tag line (the "accept missing
  * tag" path); every 5th order has no gameEndTimestamp (the C11
  * coalesce fallback). A decoy participant B never matches.
  */
object Domain {

  private def ok = col("o_orderkey")

  private[graft] def bronzeFromOrders(o: DataFrame): DataFrame = {
    val pA = struct(
      when(ok % 7 === 0, concat(lit("X"), col("o_custkey").cast("string")))
        .otherwise(concat(lit("P"), col("o_custkey").cast("string"))).as("puuid"),
      concat(lit("Cust"), col("o_custkey").cast("string")).as("riotIdGameName"),
      when(ok % 3 === 0, lit(null).cast("string")).otherwise(lit("TAG")).as("riotIdTagLine"),
      concat(lit("Legacy"), col("o_custkey").cast("string")).as("summonerName"),
      col("o_orderpriority").as("championName"),
      lit(100).as("teamId"),
      (col("o_orderstatus") === "F").as("win"),
      (ok % 17).as("kills"), (ok % 7).as("deaths"), (ok % 11).as("assists"),
      (ok % 200).as("totalMinionsKilled"), (ok % 50).as("neutralMinionsKilled"),
      (ok % 30000).as("totalDamageDealtToChampions"), (ok % 15000).as("goldEarned"),
      (ok % 4000).as("item0"), ((ok + 1) % 4000).as("item1"), ((ok + 2) % 4000).as("item2"),
      ((ok + 3) % 4000).as("item3"), ((ok + 4) % 4000).as("item4"),
      ((ok + 5) % 4000).as("item5"), lit(0L).as("item6"),
    )
    val pB = struct(
      lit("DECOY").as("puuid"),
      lit("Nobody").as("riotIdGameName"),
      lit("X").as("riotIdTagLine"),
      lit("NobodyOld").as("summonerName"),
      lit("Decoy").as("championName"),
      lit(200).as("teamId"),
      (col("o_orderstatus") =!= "F").as("win"),
      lit(1L).as("kills"), lit(2L).as("deaths"), lit(3L).as("assists"),
      lit(10L).as("totalMinionsKilled"), lit(5L).as("neutralMinionsKilled"),
      lit(100L).as("totalDamageDealtToChampions"), lit(100L).as("goldEarned"),
      lit(0L).as("item0"), lit(0L).as("item1"), lit(0L).as("item2"),
      lit(0L).as("item3"), lit(0L).as("item4"), lit(0L).as("item5"), lit(0L).as("item6"),
    )
    val creation = unix_timestamp(col("o_orderdate")) * 1000
    val info = struct(
      (lit(420L) + ok % 3).as("queueId"),
      when(ok % 97 === 0, lit(0L)).otherwise(lit(1200L) + ok % 1800).as("gameDuration"),
      creation.as("gameCreation"),
      when(ok % 5 === 0, lit(null).cast("long")).otherwise(creation + 123456).as("gameEndTimestamp"),
      array(pA, pB).as("participants"),
    )
    o.select(
      ok.cast("string").as("matchId"),
      concat(lit("P"), col("o_custkey").cast("string")).as("puuid"),
      lit(false).as("processed"),
      struct(info.as("info")).as("raw"))
  }

  private[graft] def dimFromCustomer(c: DataFrame): DataFrame =
    c.select(
      concat(lit("P"), col("c_custkey").cast("string")).as("puuid"),
      concat(lit("Cust"), col("c_custkey").cast("string"), lit("#TAG")).as("summonerName"))

  // q24/q25/q52 share the synthesized silver in its NARROW form
  // (includeParticipants = false — none of the oracle columns need
  // the per-participant array). Since round 5 it IS the
  // storage-backed silver table the original comment wished for:
  // staged through parquet once per input dir (`operators.Staged`),
  // which keeps the round-1 lesson intact — an in-memory persist was
  // silently evicted under driver-env heap pressure and turned q25
  // into a 13.3 s full recompute, but a parquet stage cannot be
  // evicted, and every reader gets the same column pruning at the
  // staged scan.
  /** The exact plan the stage writer runs — shared with PlanSpec's
    * q24 BUILD test so the pinned evidence can never drift from the
    * real write path. */
  private[graft] def silverBuild(s: SparkSession, dir: String): DataFrame =
    MatchTransform.silver(
      bronzeFromOrders(Tables.orders(s, dir)),
      dimFromCustomer(Tables.customer(s, dir)),
      includeParticipants = false)

  private def silver(s: SparkSession, dir: String): DataFrame =
    graft.operators.Staged.parquet(s, s"silver_narrow|$dir") {
      silverBuild(s, dir)
    }

  // DuckDB mirror of the synthesized silver, computed analytically.
  // kda keeps plain round(): deaths < 7 so the quotient's decimal
  // expansion (denominators 1..6) never lands on a .xx5 boundary.
  private val silverOracle: String =
    """SELECT cast(o_orderkey AS VARCHAR) AS matchId,
       'P' || o_custkey AS puuid,
       (420 + o_orderkey % 3)::BIGINT AS queue_id,
       o_orderpriority AS champion,
       (o_orderstatus = 'F') AS win,
       (o_orderkey % 17)::BIGINT AS kills,
       (o_orderkey % 7)::BIGINT AS deaths,
       (o_orderkey % 11)::BIGINT AS assists,
       round(((o_orderkey % 17) + (o_orderkey % 11)) / greatest(1, o_orderkey % 7)::DOUBLE, 2) AS kda,
       (o_orderkey % 200 + o_orderkey % 50)::BIGINT AS cs,
       CASE WHEN o_orderkey % 5 = 0 THEN epoch(o_orderdate)::BIGINT * 1000
            ELSE epoch(o_orderdate)::BIGINT * 1000 + 123456 END AS game_timestamp,
       CASE WHEN o_orderkey % 7 = 0 THEN 2 ELSE 1 END AS match_tier
       FROM orders
       ORDER BY o_orderkey"""

  val defs: Seq[QueryDef] = Seq(

    // The full bronze→silver transform, differentially checked.
    QueryDef(
      "q24_domain_transform",
      (s, dir) =>
        silver(s, dir)
          .select(col("matchId"), col("puuid"), col("queue_id"), col("champion"),
            col("win"), col("kills"), col("deaths"), col("assists"), col("kda"),
            col("cs"), col("game_timestamp"), col(MatchTransform.TierCol))
          .orderBy(col("matchId").cast("long")),
      Some(silverOracle),
    ),

    // Gold (A2) over the same synthesized silver.
    QueryDef(
      "q25_domain_gold",
      (s, dir) =>
        MatchTransform.goldFromSilver(silver(s, dir))
          .select(col("puuid"), col("champion"), col("games"), col("wins"),
            Num.fround(col("kda_sum"), 2).as("kda_sum"))
          .orderBy(col("puuid"), col("champion")),
      Some(s"""WITH silver AS ($silverOracle)
               SELECT puuid, champion, count(*) AS games,
                 sum(CASE WHEN win THEN 1 ELSE 0 END)::BIGINT AS wins,
                 ${Num.froundSql("sum(kda)", 2)} AS kda_sum
               FROM silver GROUP BY puuid, champion
               ORDER BY puuid, champion"""),
    ),

    // M2 maintenance composite: dedup + orphan purge + per-key trim,
    // on an orders-shaped raw zone with injected duplicates.
    QueryDef(
      "q26_maintenance_repair",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val raw0 = o.select(ok.as("matchId"), col("o_custkey").as("puuid"),
          col("o_orderdate").as("timestamp"))
        val raw = raw0.unionAll(raw0.filter(col("matchId") % 100 === 0))
        val dim = Tables.customer(s, dir).select(col("c_custkey").as("puuid"))
        Maintenance.repair(raw, dim, k = 5)
          .select(col("matchId"), col("puuid"),
            unix_timestamp(col("timestamp")).as("ts"))
          .orderBy(col("puuid"), col("matchId"))
      },
      Some("""WITH raw AS (
                SELECT o_orderkey AS matchId, o_custkey AS puuid, o_orderdate AS ts0 FROM orders
                UNION ALL
                SELECT o_orderkey, o_custkey, o_orderdate FROM orders WHERE o_orderkey % 100 = 0),
              dedup AS (
                SELECT * FROM raw
                QUALIFY row_number() OVER (PARTITION BY matchId ORDER BY puuid, ts0) = 1),
              kept AS (
                SELECT * FROM dedup WHERE puuid IN (SELECT c_custkey FROM customer))
              SELECT matchId, puuid, epoch(ts0)::BIGINT AS ts FROM kept
              QUALIFY row_number() OVER (PARTITION BY puuid ORDER BY ts0 DESC, matchId) <= 5
              ORDER BY puuid, matchId"""),
    ),

    // P2 per-participant projection, oracle-checked: the flat
    // participants view (standard extraction with the name-coalesce
    // chain, transformer_loader/main.py:27-59) recomputed analytically
    // in DuckDB. Zero-shuffle plan: MatchTransform.participantsFlat
    // makes the match decision in place (broadcast dim + exists) and
    // never carries the array through the entity-resolution exchange.
    // `items` is serialized to 'a|b|...' — driver output columns are
    // SCALAR (the harness's pandas comparator cannot sort array
    // cells; q17 set the house pattern).
    QueryDef(
      "q61_participants_projection",
      (s, dir) =>
        MatchTransform.participantsFlat(
          bronzeFromOrders(Tables.orders(s, dir)),
          dimFromCustomer(Tables.customer(s, dir)))
          .select(col("matchId").cast("long").as("match_key"),
            col("pos").cast("long").as("pos"),
            col("champion"),
            col("summonerName").as("full_name"),
            col("teamId").cast("long").as("team_id"),
            col("win"),
            col("kills"), col("deaths"), col("assists"),
            col("total_damage"),
            array_join(col("items").cast("array<string>"), "|").as("items"))
          .orderBy(col("match_key"), col("pos")),
      Some("""WITH a AS (
                SELECT o_orderkey AS match_key, 0::BIGINT AS pos,
                  o_orderpriority AS champion,
                  CASE WHEN o_orderkey % 3 = 0 THEN 'Cust' || o_custkey
                       ELSE 'Cust' || o_custkey || '#TAG' END AS full_name,
                  100::BIGINT AS team_id,
                  (o_orderstatus = 'F') AS win,
                  (o_orderkey % 17)::BIGINT AS kills,
                  (o_orderkey % 7)::BIGINT AS deaths,
                  (o_orderkey % 11)::BIGINT AS assists,
                  (o_orderkey % 30000)::BIGINT AS total_damage,
                  array_to_string([o_orderkey % 4000, (o_orderkey + 1) % 4000,
                   (o_orderkey + 2) % 4000, (o_orderkey + 3) % 4000,
                   (o_orderkey + 4) % 4000, (o_orderkey + 5) % 4000,
                   0]::BIGINT[], '|') AS items
                FROM orders),
              b AS (
                SELECT o_orderkey, 1::BIGINT, 'Decoy', 'Nobody#X', 200::BIGINT,
                  (o_orderstatus <> 'F'), 1::BIGINT, 2::BIGINT, 3::BIGINT, 100::BIGINT,
                  '0|0|0|0|0|0|0'
                FROM orders)
              SELECT * FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
              ORDER BY match_key, pos"""),
    ),

    // E3 serving composite: newest-300 trim per player (O1 bound,
    // api_service/main.py:334-338) then the per-champion aggregate
    // with derived avg_kda / winrate (A1, :340-358) — routed through
    // the SAME MatchTransform.recentMatches / championStats the
    // serving read path (playerStats) uses, so the driver oracle
    // checks the serving functions themselves, not a parallel copy.
    QueryDef(
      "q52_player_champion_stats",
      (s, dir) =>
        MatchTransform.championStats(
          MatchTransform.recentMatches(silver(s, dir), limit = 300,
            tieBreak = col("matchId").cast("long")))
          .select(col("puuid"), col("champion"), col("games"), col("wins"),
            col("avg_kda"), col("winrate"))
          .orderBy(col("puuid"), col("champion")),
      Some(s"""WITH silver AS ($silverOracle),
               recent AS (
                 SELECT * FROM silver
                 QUALIFY row_number() OVER (PARTITION BY puuid
                   ORDER BY game_timestamp DESC, matchId::BIGINT DESC) <= 300)
               SELECT puuid, champion, count(*) AS games,
                 sum(CASE WHEN win THEN 1 ELSE 0 END)::BIGINT AS wins,
                 ${Num.froundSql("(sum(kills) + sum(assists)) / greatest(1, sum(deaths))::DOUBLE", 2)} AS avg_kda,
                 ${Num.froundSql("sum(CASE WHEN win THEN 1 ELSE 0 END)::BIGINT * 100.0 / count(*)", 1)} AS winrate
               FROM recent GROUP BY puuid, champion
               ORDER BY puuid, champion"""),
    ),
  )
}
