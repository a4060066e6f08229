package graft.tools

import java.sql.Timestamp

import graft.domain.{Ingest, Recall, RecallRequest}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic LoCoMo-mini conversational retrieval benchmark (VERDICT r3
  * item 4), mirroring the reference's LoCoMo harness shape
  * (`/root/reference/tests/benchmarks/test_locomo.py`):
  *
  *  - multi-session conversations ingested one memory per utterance with
  *    conversation/session/speaker tags and dialog-id metadata
  *    (`test_locomo.py:314-389` `_prepare_conversation_memories`);
  *  - questions across ALL FIVE LoCoMo categories (r13 VERDICT item 7) —
  *    single-hop, temporal, multi-hop, open-domain (paraphrase/inference
  *    wording, scored on evidence ids like the rest), and adversarial
  *    (the fact is absent; correct behavior is ABSTENTION via the score
  *    floor) — plus the LongMemEval-shaped knowledge-update category;
  *    answerable questions carry labelled evidence dialog ids;
  *  - per-question recall parameterization ported from the reference
  *    evaluator (`test_locomo.py:730-820` `recall_for_question`): temporal
  *    questions get month/year hints appended and a wider limit, multi-hop
  *    questions run with auto-decompose + entity expansion and union a
  *    speaker-tag-scoped secondary search (`test_locomo.py:793-818`);
  *  - answers scored with evidence-id recall@k / MRR (`lab_metrics.py`).
  *
  * This is the first harness exercising Q6 (auto-decompose), R3 (recency
  * bias in `auto` mode — temporal questions trigger it, others must not),
  * and J3 (entity expansion) together through the FULL `Recall.recall`
  * plan. Everything is bit-stable: fixed session datetimes, fixed `now`,
  * placeholder hash embeddings, uniform importance.
  */
object LocomoMini {

  val Now: Timestamp = Timestamp.valueOf("2026-06-01 00:00:00")

  case class Turn(conv: Int, session: Int, idx: Int, speaker: String,
      text: String, entities: Seq[String] = Nil) {
    def dialogId: String = s"D$conv:$session:$idx"
  }

  /** `category` in {"single", "temporal", "multihop"}; evidence = the dialog
    * ids that answer the question (multi-hop questions have 2+).
    */
  case class Question(category: String, conv: Int, question: String,
      evidence: Seq[String])

  /** Session start datetimes, conversation -> session -> timestamp. */
  val SessionStart: Map[(Int, Int), Timestamp] = Map(
    (1, 1) -> Timestamp.valueOf("2026-03-05 09:00:00"),
    (1, 2) -> Timestamp.valueOf("2026-03-20 18:30:00"),
    (1, 3) -> Timestamp.valueOf("2026-04-10 11:00:00"),
    (1, 4) -> Timestamp.valueOf("2026-04-28 16:00:00"),
    (1, 5) -> Timestamp.valueOf("2026-05-15 10:00:00"),
    (2, 1) -> Timestamp.valueOf("2026-02-10 10:00:00"),
    (2, 2) -> Timestamp.valueOf("2026-03-01 14:00:00"),
    (2, 3) -> Timestamp.valueOf("2026-03-25 09:30:00"),
    (2, 4) -> Timestamp.valueOf("2026-04-15 17:00:00"),
    (2, 5) -> Timestamp.valueOf("2026-05-10 12:00:00"),
    (3, 1) -> Timestamp.valueOf("2026-01-20 09:30:00"),
    (3, 2) -> Timestamp.valueOf("2026-02-14 15:00:00"),
    (3, 3) -> Timestamp.valueOf("2026-03-10 11:30:00"),
    (3, 4) -> Timestamp.valueOf("2026-04-05 17:30:00"),
    (3, 5) -> Timestamp.valueOf("2026-05-20 08:30:00"),
    (4, 1) -> Timestamp.valueOf("2026-01-12 10:00:00"),
    (4, 2) -> Timestamp.valueOf("2026-02-06 18:00:00"),
    (4, 3) -> Timestamp.valueOf("2026-03-03 09:00:00"),
    (4, 4) -> Timestamp.valueOf("2026-04-12 15:30:00"),
    (4, 5) -> Timestamp.valueOf("2026-05-18 11:00:00"),
    (5, 1) -> Timestamp.valueOf("2026-01-25 14:00:00"),
    (5, 2) -> Timestamp.valueOf("2026-02-20 09:30:00"),
    (5, 3) -> Timestamp.valueOf("2026-03-18 16:00:00"),
    (5, 4) -> Timestamp.valueOf("2026-04-22 10:30:00"),
    (5, 5) -> Timestamp.valueOf("2026-05-25 13:00:00"))

  // Conversation 1: Elena & Marcus. Planted facts: parrot Kiwi (S1),
  // cello/quartet (S1), brother Dario (S1) -> marine biologist (S2) ->
  // research station (S5), glacier visits (S2 first, S4 last), quartet
  // festival performance (S4). Confusers share keywords with every planted
  // fact so the ranking goldens stay sensitive.
  private def conv1: Seq[Turn] = {
    def t(s: Int, i: Int, sp: String, tx: String, e: Seq[String] = Nil) =
      Turn(1, s, i, sp, tx, e)
    Seq(
      t(1, 1, "Elena", "I adopted a parrot named Kiwi from the shelter on Sunday"),
      t(1, 2, "Marcus", "That is great news, parrots are clever companions"),
      t(1, 3, "Marcus", "I play the cello in a string quartet downtown"),
      t(1, 4, "Elena", "My neighbor practices trumpet at odd hours, quite the contrast"),
      t(1, 5, "Elena", "My brother Dario is visiting next week from the coast", Seq("dario")),
      t(1, 6, "Marcus", "I would love to meet Dario, bring him to the rehearsal", Seq("dario")),
      t(1, 7, "Elena", "How do you find time to rehearse every week"),
      t(1, 8, "Marcus", "We rehearse on Thursday evenings after work"),
      t(1, 9, "Elena", "I work as a cartographer at the city map bureau"),
      t(2, 1, "Elena", "I visited the Vatnajokull glacier and hiked the ice caves"),
      t(2, 2, "Marcus", "Incredible, I watched a documentary about glacier caves last winter"),
      t(2, 3, "Marcus", "I started learning Portuguese with a tutor this month"),
      t(2, 4, "Marcus", "I ran into Dario at the harbor aquarium lab, he works as a marine biologist now", Seq("dario")),
      t(2, 5, "Elena", "Dario always loved the sea, the aquarium suits him", Seq("dario")),
      t(2, 6, "Elena", "The glacier hike left me sore for days"),
      t(2, 7, "Marcus", "Portuguese verb conjugations are harder than I expected"),
      t(2, 8, "Elena", "Kiwi the parrot now mimics my alarm clock"),
      t(3, 1, "Marcus", "I bought a tandem bicycle for weekend rides along the river"),
      t(3, 2, "Elena", "Kiwi learned to whistle the kettle tune this week"),
      t(3, 3, "Elena", "I am planning another glacier trip for late April"),
      t(3, 4, "Marcus", "The quartet is preparing a program of Dvorak pieces"),
      t(3, 5, "Elena", "Dario sent photos from a research cruise near the fjords", Seq("dario")),
      t(3, 6, "Marcus", "My Portuguese tutor says I am ready for short conversations"),
      t(3, 7, "Elena", "The tandem bicycle sounds fun, can three people ride it"),
      t(3, 8, "Marcus", "Only two, but you are welcome to try the front seat"),
      t(4, 1, "Elena", "I visited the glacier again and reached the upper ridge this time"),
      t(4, 2, "Marcus", "Our quartet performed at the spring festival in the park"),
      t(4, 3, "Elena", "The ridge view was even better than the ice caves"),
      t(4, 4, "Marcus", "The festival crowd asked for an encore twice"),
      t(4, 5, "Elena", "Kiwi greeted me with a whistle when I returned"),
      t(4, 6, "Marcus", "Dario should hear about the festival, is he still at the lab", Seq("dario")),
      t(4, 7, "Elena", "Yes, though he keeps talking about moving to a field station"),
      t(4, 8, "Marcus", "Tell him the quartet sends greetings"),
      t(4, 9, "Elena", "I left the map bureau job and now guide mountain trails full time"),
      t(5, 1, "Elena", "I started a sourdough baking course at the mill bakery"),
      t(5, 2, "Marcus", "Fresh bread beats anything from the shop"),
      t(5, 3, "Elena", "Dario moved to the coastal research station at Skagen this week", Seq("dario")),
      t(5, 4, "Marcus", "A research station by the sea suits a marine biologist"),
      t(5, 5, "Elena", "The baking course teaches us lamination next"),
      t(5, 6, "Marcus", "I can finally order coffee in Portuguese without pausing"),
      t(5, 7, "Elena", "Kiwi tried to steal a piece of my practice loaf"),
      t(5, 8, "Marcus", "Your parrot has excellent taste"),
      // appended in round 6 (higher idx keeps earlier dialog ids stable):
      // knowledge-update new-fact turn — supersedes D1:1:8
      t(5, 9, "Marcus", "The quartet moved rehearsals to Monday nights for the summer"),
      // appended in round 8 (same idx-stability convention): three more
      // update pairs (old facts planted at high idx in early sessions, new
      // facts in session 5) + one more tagged Dario fact for the bridge
      t(1, 10, "Elena", "My commute to the bureau is on tram line five"),
      t(2, 9, "Marcus", "My Portuguese lessons are on Tuesday mornings"),
      t(3, 9, "Elena", "Kiwi's cage sits by the kitchen window"),
      t(3, 10, "Elena", "Dario named his research boat the Petrel", Seq("dario")),
      t(5, 10, "Elena", "My commute is now the early bus to the trailheads"),
      t(5, 11, "Marcus", "My Portuguese lessons moved to Saturday mornings"),
      t(5, 12, "Elena", "I moved Kiwi's cage to the sunroom"))
  }

  // Conversation 2: Priya & Tomas. Planted facts: ceramics studio (S1),
  // Valencia marathon training (S1) -> finished (S3) -> trail race planning
  // (S5), mentor Ingrid (S1) -> gallery exhibit (S2) -> handbook (S4),
  // kiln firings (S3 test batch, S5 celadon vases — the recent one).
  private def conv2: Seq[Turn] = {
    def t(s: Int, i: Int, sp: String, tx: String, e: Seq[String] = Nil) =
      Turn(2, s, i, sp, tx, e)
    Seq(
      t(1, 1, "Priya", "I opened a small ceramics studio near the old market"),
      t(1, 2, "Tomas", "I am training for the Valencia marathon this spring"),
      t(1, 3, "Priya", "My mentor Ingrid taught me everything about glazing", Seq("ingrid")),
      t(1, 4, "Tomas", "Running before sunrise is the only quiet time I get"),
      t(1, 5, "Priya", "The studio kiln takes a full day to reach temperature"),
      t(1, 6, "Tomas", "Ingrid sounds like a demanding teacher", Seq("ingrid")),
      t(1, 7, "Priya", "Demanding but generous with her secrets"),
      t(1, 8, "Tomas", "My training plan has me at forty kilometers a week"),
      t(1, 9, "Tomas", "I live in Porto in a small flat near the river"),
      t(2, 1, "Tomas", "I ran a half marathon along the coast road as practice"),
      t(2, 2, "Priya", "I hosted a glazing workshop for six students"),
      t(2, 3, "Tomas", "Ingrid exhibited her porcelain at the harbor gallery last month", Seq("ingrid")),
      t(2, 4, "Priya", "Her porcelain glows like moonlight, I saw the opening night"),
      t(2, 5, "Tomas", "The coast road race gave me confidence for Valencia"),
      t(2, 6, "Priya", "The workshop students fired their first bowls today"),
      t(2, 7, "Tomas", "My knees survived, which counts as victory"),
      t(2, 8, "Priya", "Victory laps in a ceramics studio are slow affairs"),
      t(3, 1, "Tomas", "I finished the Valencia marathon in just under four hours"),
      t(3, 2, "Priya", "I installed a new gas kiln at the studio this week"),
      t(3, 3, "Tomas", "The marathon crowd carried me through the final stretch"),
      t(3, 4, "Priya", "The new kiln fires hotter and more evenly than the old one"),
      t(3, 5, "Tomas", "I may never walk down stairs normally again"),
      t(3, 6, "Priya", "Soak your legs and eat something rich"),
      t(3, 7, "Tomas", "Valencia was worth every blister"),
      t(3, 8, "Priya", "I glazed a test batch in the new kiln yesterday"),
      t(4, 1, "Priya", "The studio now offers evening classes twice a week"),
      t(4, 2, "Tomas", "Ingrid published a handbook on crystalline glazes this spring", Seq("ingrid")),
      t(4, 3, "Priya", "I preordered the handbook for all my students"),
      t(4, 4, "Tomas", "I started light jogging again, nothing serious"),
      t(4, 5, "Priya", "The evening classes filled up within a day"),
      t(4, 6, "Tomas", "Maybe I will sign up for clay instead of running"),
      t(4, 7, "Priya", "Clay is kinder to the knees"),
      t(4, 8, "Tomas", "My physiotherapist would agree"),
      t(4, 9, "Tomas", "I moved to a flat in Valencia to be close to the coast"),
      t(5, 1, "Priya", "I fired a batch of celadon vases in the kiln this morning"),
      t(5, 2, "Tomas", "I am planning a trail race in the autumn hills"),
      t(5, 3, "Priya", "The celadon came out with a perfect crackle"),
      t(5, 4, "Tomas", "Trail running needs new shoes and new courage"),
      t(5, 5, "Priya", "Ingrid visited the studio and approved of the vases", Seq("ingrid")),
      t(5, 6, "Tomas", "High praise from the master"),
      t(5, 7, "Priya", "She rarely approves of anything on the first look"),
      t(5, 8, "Tomas", "Then the vases must truly shine"),
      // appended in round 6: knowledge-update new-fact turns —
      // supersede D2:1:8 and D2:4:1 respectively
      t(5, 9, "Tomas", "My new training plan is sixty kilometers a week for the trail race"),
      t(5, 10, "Priya", "The evening classes now run three times a week after demand grew"),
      // appended in round 8: three more update pairs
      t(1, 10, "Priya", "The studio opens at nine each morning"),
      t(2, 9, "Tomas", "I run in an old pair of blue road shoes"),
      t(3, 9, "Priya", "I mix my glazes in the cramped back room"),
      t(5, 11, "Priya", "The studio now opens at eight to fit the extra classes"),
      t(5, 12, "Tomas", "I bought white trail shoes for the autumn hills"),
      t(5, 13, "Priya", "I now mix glazes in the airy new annex"))
  }

  // Conversation 3: Aiko & Ben. Planted facts: 1890 telescope restoration
  // (S3), honey harvests (S2 first, S4 last), cousin Mirela (S1) -> bakery
  // (S2), workshop on Castle Lane (S1) -> moved to Mill Street (S4).
  private def conv3: Seq[Turn] = {
    def t(s: Int, i: Int, sp: String, tx: String, e: Seq[String] = Nil) =
      Turn(3, s, i, sp, tx, e)
    Seq(
      t(1, 1, "Aiko", "I restore antique telescopes in my little workshop"),
      t(1, 2, "Ben", "I keep three beehives on the rooftop of my building"),
      t(1, 3, "Aiko", "My cousin Mirela moved back to town this winter", Seq("mirela")),
      t(1, 4, "Ben", "Rooftop bees are calmer than people expect"),
      t(1, 5, "Aiko", "Telescope restoration takes patience and steady hands"),
      t(1, 6, "Ben", "I would love to look through one of your telescopes"),
      t(1, 7, "Aiko", "Come by the workshop when the big refractor is done"),
      t(1, 8, "Ben", "Deal, I will bring honey when the hives produce"),
      t(1, 9, "Aiko", "My workshop sits on Castle Lane near the clock tower"),
      t(2, 1, "Ben", "The hives produced their first honey harvest this week"),
      t(2, 2, "Aiko", "I spent the weekend polishing telescope lenses"),
      t(2, 3, "Aiko", "Mirela opened a bakery on Harbor Street", Seq("mirela")),
      t(2, 4, "Ben", "A bakery next to the harbor sounds perfect"),
      t(2, 5, "Aiko", "Her cinnamon knots sold out on opening day"),
      t(2, 6, "Ben", "I will trade honey for cinnamon knots"),
      t(2, 7, "Aiko", "The lens polishing jig needs a new belt"),
      t(2, 8, "Ben", "Check the hardware stall at the market"),
      t(3, 1, "Aiko", "I finished restoring a brass telescope built in 1890"),
      t(3, 2, "Ben", "An instrument from 1890, that is remarkable"),
      t(3, 3, "Aiko", "The 1890 refractor needed a completely new mount"),
      t(3, 4, "Ben", "The bees are quiet, winter stores are holding"),
      t(3, 5, "Aiko", "Mirela's bakery added a second oven already", Seq("mirela")),
      t(3, 6, "Ben", "Success smells like fresh bread and honey"),
      t(3, 7, "Aiko", "Next project is a pocket sextant from the thirties"),
      t(3, 8, "Ben", "Your workshop must look like a museum"),
      t(4, 1, "Ben", "I harvested honey from all three hives this morning"),
      t(4, 2, "Aiko", "The sextant restoration is halfway done"),
      t(4, 3, "Ben", "This harvest filled twice as many jars as the first"),
      t(4, 4, "Aiko", "Save me a jar for the workshop shelf"),
      t(4, 5, "Ben", "The rooftop garden helps the bees thrive"),
      t(4, 6, "Aiko", "Mirela wants honey for her bakery glazes", Seq("mirela")),
      t(4, 7, "Ben", "A bakery and an apiary make natural partners"),
      t(4, 8, "Aiko", "I will deliver a jar when I visit her"),
      t(4, 9, "Aiko", "I moved the workshop to Mill Street for better light"),
      t(5, 1, "Aiko", "The pocket sextant is finished and calibrated"),
      t(5, 2, "Ben", "I am building two more hives for spring"),
      t(5, 3, "Aiko", "The workshop window display now shows the 1890 telescope"),
      t(5, 4, "Ben", "The new hives should be ready before summer"),
      t(5, 5, "Aiko", "Mirela's bakery started weekend baking classes", Seq("mirela")),
      t(5, 6, "Ben", "Maybe I will learn to bake at last"),
      t(5, 7, "Aiko", "Bring honey to class and you will be popular"),
      t(5, 8, "Ben", "Strategy accepted"),
      // appended in round 6: knowledge-update new-fact turns —
      // supersede D3:1:2 and D3:2:3 respectively
      t(5, 9, "Ben", "With the new builds done I now keep five hives on the rooftop"),
      t(5, 10, "Aiko", "Mirela moved the bakery to the old mill for more oven space", Seq("mirela")),
      // appended in round 8: three more update pairs
      t(1, 10, "Ben", "I sell my honey at the Saturday market stall"),
      t(2, 9, "Aiko", "I buy brass fittings from the dockside foundry"),
      t(3, 9, "Ben", "The hives winter under a plain canvas cover"),
      t(5, 11, "Ben", "My honey now sells at Mirela's bakery counter"),
      t(5, 12, "Aiko", "I now buy brass fittings from the upriver foundry"),
      t(5, 13, "Ben", "The hives now winter under an insulated cedar shelter"))
  }

  // Conversation 4 (round 8): Noor & Felix. Planted facts: weaving studio
  // with cedar loom (S1, superseded by jacquard S5), indigo dye garden
  // (planted S2 -> harvested S4), salt flats photography (S2 dawn, S4
  // storm — the recent one), opera-house tapestry (asked S2 -> signed S3
  // -> delivered S5), chess club (entered S2 -> won cup S4), calligraphy
  // (course S2 -> exhibition S5), kayak (bay S1 -> gorge S3 -> sea
  // expedition planning S5). Third parties: Noor's sister Leila (violins
  // S2 -> concert S3 -> apprentices S4 -> atelier S5) and Felix's uncle
  // Omar (tours S2 -> beacon S3 -> sailboat S4 -> festival S5). Exactly
  // 50 turns so the single-hop limit-50 recall always covers the pool.
  private def conv4: Seq[Turn] = {
    def t(s: Int, i: Int, sp: String, tx: String, e: Seq[String] = Nil) =
      Turn(4, s, i, sp, tx, e)
    Seq(
      t(1, 1, "Noor", "I run a weaving studio with a big cedar loom"),
      t(1, 2, "Felix", "I paddle a red kayak on the bay every weekend"),
      t(1, 3, "Noor", "My sister Leila moved to the city for her music work", Seq("leila")),
      t(1, 4, "Felix", "I am the captain of the chess club at the community hall"),
      t(1, 5, "Noor", "The studio buys wool from a highland sheep farm"),
      t(1, 6, "Felix", "My uncle Omar retired from the ferry service this year", Seq("omar")),
      t(1, 7, "Noor", "I dye some of my own yarn in small batches"),
      t(1, 8, "Felix", "I live in a small flat in Oslo near the park"),
      t(1, 9, "Felix", "The chess club meets on Wednesday evenings"),
      t(1, 10, "Noor", "My studio is on Birch Avenue by the old theatre"),
      t(2, 1, "Noor", "I planted an indigo dye garden in cedar boxes this week"),
      t(2, 2, "Felix", "I started a calligraphy course with master Hosokawa"),
      t(2, 3, "Noor", "Leila repairs violins at the music school workshop", Seq("leila")),
      t(2, 4, "Felix", "Omar runs lighthouse tours from the north pier", Seq("omar")),
      t(2, 5, "Noor", "I photographed the salt flats at dawn on a road trip"),
      t(2, 6, "Felix", "The chess club entered the regional tournament"),
      t(2, 7, "Noor", "The dye garden needs careful watering in the cold months"),
      t(2, 8, "Felix", "Calligraphy strokes demand the same patience as chess"),
      t(2, 9, "Noor", "The opera house asked me about a large tapestry commission"),
      t(2, 10, "Felix", "My kayak training is two mornings a week"),
      t(3, 1, "Noor", "I signed the opera house tapestry commission today"),
      t(3, 2, "Felix", "I paddled a river expedition through the granite gorge"),
      t(3, 3, "Noor", "Leila performed at the winter chamber concert", Seq("leila")),
      t(3, 4, "Felix", "Omar repaired the old harbor beacon himself", Seq("omar")),
      t(3, 5, "Noor", "The tapestry will show the city skyline in wool and silk"),
      t(3, 6, "Noor", "My indigo seedlings survived the late frost"),
      t(3, 7, "Noor", "The studio hosted a weaving night for beginners"),
      t(4, 1, "Noor", "I harvested the indigo leaves and set up the first dye vat"),
      t(4, 2, "Felix", "The chess club won the regional cup at the spring finals"),
      t(4, 3, "Noor", "I returned to the salt flats and photographed them under storm light"),
      t(4, 4, "Felix", "Omar bought a vintage gaff-rigged sailboat", Seq("omar")),
      t(4, 5, "Noor", "The dye vat turned my first yarn a deep ocean blue"),
      t(4, 6, "Felix", "The cup final came down to a queen sacrifice"),
      t(4, 7, "Noor", "Leila is taking on two apprentice bow makers", Seq("leila")),
      t(4, 8, "Felix", "Storm light over salt flats sounds like a painting"),
      t(4, 9, "Noor", "The city gallery wants prints of the storm series"),
      t(4, 10, "Felix", "I moved to a hillside flat in Bergen for the sea air"),
      t(4, 11, "Noor", "I moved the studio to Garden Square for bigger windows"),
      t(5, 1, "Noor", "I delivered the finished tapestry to the opera house"),
      t(5, 2, "Felix", "I am planning a sea kayak expedition along the coast"),
      t(5, 3, "Noor", "Leila opened her own bow-making atelier by the river", Seq("leila")),
      t(5, 4, "Felix", "My calligraphy scrolls hang in the course exhibition this month"),
      t(5, 5, "Noor", "The storm series prints sold out at the city gallery"),
      t(5, 6, "Felix", "Omar is hosting a midsummer bonfire festival on the pier", Seq("omar")),
      t(5, 7, "Noor", "The atelier smells of maple shavings and varnish"),
      t(5, 8, "Felix", "I bought a yellow sea kayak for the coast expedition"),
      t(5, 9, "Felix", "The chess club moved its meetings to Friday evenings"),
      t(5, 10, "Noor", "I replaced the cedar loom with a jacquard loom"),
      t(5, 11, "Felix", "I now train four mornings a week for the sea expedition"))
  }

  // Conversation 5 (round 8): Sana & Oliver. Planted facts: 1962 roadster
  // restoration (project S1 -> engine done S3 -> rally S5), night-sky
  // photography (quarry ridge S2 -> aurora S4), mystery novel (chapters S2
  // -> draft S3 -> fair meeting S4 -> signed S5), lake crossing (daily
  // training S3 -> completed S4). Third parties: Sana's uncle Rashid
  // (spice shop S2 -> cardamom S3 -> tea room S4 -> award + bazaar move
  // S5) and Oliver's coach Vera (relay team S2 -> route S3 -> manual S4
  // -> academy S5). 49 turns, under the limit-50 single-hop pool bound.
  private def conv5: Seq[Turn] = {
    def t(s: Int, i: Int, sp: String, tx: String, e: Seq[String] = Nil) =
      Turn(5, s, i, sp, tx, e)
    Seq(
      t(1, 1, "Sana", "I restore vintage motorcycles in my garage workshop"),
      t(1, 2, "Oliver", "I am writing a mystery novel about a clockmaker"),
      t(1, 3, "Sana", "My uncle Rashid knows every merchant in the old quarter", Seq("rashid")),
      t(1, 4, "Oliver", "My swim coach Vera trains me at the municipal pool", Seq("vera")),
      t(1, 5, "Sana", "My current project is a 1962 roadster with a cracked frame"),
      t(1, 6, "Oliver", "I train twice a week between writing sessions"),
      t(1, 7, "Sana", "I keep two cats that nap on the workbench"),
      t(1, 8, "Oliver", "My orchids grow on the kitchen windowsill"),
      t(1, 9, "Sana", "I work as a radiology technician at the clinic"),
      t(1, 10, "Oliver", "The novel's detective is a retired harbor pilot"),
      t(2, 1, "Oliver", "Vera once swam for the national relay team", Seq("vera")),
      t(2, 2, "Sana", "Rashid runs a spice shop on Saffron Alley", Seq("rashid")),
      t(2, 3, "Sana", "I photographed the night sky from the quarry ridge"),
      t(2, 4, "Oliver", "I wrote three chapters in a seaside cabin this month"),
      t(2, 5, "Sana", "The roadster needs a replacement fuel tank from a collector"),
      t(2, 6, "Oliver", "Vera says my turn technique needs work", Seq("vera")),
      t(2, 7, "Sana", "Rashid sells saffron, sumac, and dried limes", Seq("rashid")),
      t(2, 8, "Oliver", "The clockmaker plot hinges on a pendulum that vanished from the tower workshop"),
      t(2, 9, "Sana", "Night photography needs patience and warm gloves"),
      t(2, 10, "Oliver", "My swim sessions leave me too tired to write"),
      t(3, 1, "Oliver", "I finished the full draft of the mystery novel"),
      t(3, 2, "Sana", "I finished restoring the 1962 roadster engine"),
      t(3, 3, "Oliver", "I now train daily for the lake crossing attempt"),
      t(3, 4, "Sana", "Rashid imports cardamom from the mountain terraces", Seq("rashid")),
      t(3, 5, "Oliver", "I built a small greenhouse for the orchids on the balcony"),
      t(3, 6, "Sana", "The roadster's chrome finally shines like new"),
      t(3, 7, "Oliver", "Vera mapped the route for the lake crossing", Seq("vera")),
      t(3, 8, "Sana", "The quarry ridge gets too windy for a tripod in spring"),
      t(3, 9, "Oliver", "The draft runs four hundred pages double spaced"),
      t(4, 1, "Oliver", "I completed the lake crossing in open water"),
      t(4, 2, "Sana", "I photographed the aurora over the fjord on a field trip"),
      t(4, 3, "Oliver", "Vera published a training manual for open water swimmers", Seq("vera")),
      t(4, 4, "Sana", "Rashid added a tea room behind the spice shop", Seq("rashid")),
      t(4, 5, "Oliver", "I train at the cold lake now instead of the pool"),
      t(4, 6, "Sana", "I switched careers and now teach imaging at the institute"),
      t(4, 7, "Oliver", "The longest chapter of the manual covers breathing in cold open water"),
      t(4, 8, "Sana", "The aurora photographs from the fjord glow green and violet"),
      t(4, 9, "Oliver", "My publisher meeting is set for the spring book fair"),
      t(4, 10, "Sana", "The tea room serves mountain cardamom tea"),
      t(5, 1, "Sana", "I rode the restored roadster in the hill rally"),
      t(5, 2, "Oliver", "I signed the novel with a publisher at the book fair"),
      t(5, 3, "Sana", "Rashid won the old quarter merchant award", Seq("rashid")),
      t(5, 4, "Oliver", "Vera opened a swim academy at the lake shore", Seq("vera")),
      t(5, 5, "Sana", "I adopted a third cat who sleeps in a helmet"),
      t(5, 6, "Oliver", "The academy's first class filled with twenty swimmers"),
      t(5, 7, "Sana", "Rashid moved the spice shop into the grand bazaar hall", Seq("rashid")),
      t(5, 8, "Oliver", "The sequel will follow the clockmaker's apprentice"),
      t(5, 9, "Sana", "The rally trophy sits next to the third cat's helmet"),
      t(5, 10, "Oliver", "Open water taught me more than any pool lane"))
  }

  def turns: Seq[Turn] = conv1 ++ conv2 ++ conv3 ++ conv4 ++ conv5

  /** The 174 questions across five conversations — single 54 / temporal 32
    * / multihop 32 / update 32 / open 12 / adversarial 12 (every
    * reference-mirrored category >= 30, VERDICT r7 item 3; the
    * single-heavy skew mirrors the reference mini tier's 114:63:43
    * single:temporal:multihop category counts,
    * `benchmarks/EXPERIMENT_LOG.md:172`; open/adversarial complete the
    * five LoCoMo categories, r13 item 7). Question wording is part of
    * the fixture: temporal questions carry a reference-grade temporal-intent keyword
    * (`recently` — `automem/utils/time.py:10-17`; bare `last` is intent
    * only in the harness's own keyword list, not the engine's) so `recencyBias = "auto"` fires for them and ONLY
    * them — which also means non-temporal questions must avoid every
    * harness keyword ("last", "when", "after", ...); multi-hop questions
    * name the speaker possessively so both query entity extraction and the
    * speaker-tag secondary search engage.
    */
  def questions: Seq[Question] = Seq(
    // ---- single-hop (25): one evidence dialog, direct fact retrieval
    Question("single", 1, "What instrument does Marcus play in the quartet?",
      Seq("D1:1:3")),
    Question("single", 1, "What is the name of Elena's parrot?", Seq("D1:1:1")),
    Question("single", 2, "Which city marathon was Tomas training for?",
      Seq("D2:1:2")),
    Question("single", 2, "What did Priya open near the old market?",
      Seq("D2:1:1")),
    Question("single", 3, "What was Aiko restoring that was built in 1890?",
      Seq("D3:3:1")),
    Question("single", 1, "What does Elena's neighbor practice at odd hours?",
      Seq("D1:1:4")),
    Question("single", 1, "What did Marcus buy for weekend rides?",
      Seq("D1:3:1")),
    Question("single", 1, "Which language is Marcus learning with a tutor?",
      Seq("D1:2:3")),
    Question("single", 1, "Which composer is the quartet preparing a program of?",
      Seq("D1:3:4")),
    Question("single", 1, "What course did Elena start at the mill bakery?",
      Seq("D1:5:1")),
    Question("single", 1, "What tune did Kiwi learn to whistle?",
      Seq("D1:3:2")),
    Question("single", 1, "What did Elena hike at the Vatnajokull glacier?",
      Seq("D1:2:1")),
    Question("single", 2, "Who taught Priya everything about glazing?",
      Seq("D2:1:3")),
    Question("single", 2, "How many students attended Priya's glazing workshop?",
      Seq("D2:2:2")),
    Question("single", 2, "What finishing result did Tomas achieve at the Valencia marathon?",
      Seq("D2:3:1")),
    Question("single", 2, "Where did Tomas run a half marathon as practice?",
      Seq("D2:2:1")),
    Question("single", 2, "What did Priya glaze in the new kiln?",
      Seq("D2:3:8")),
    Question("single", 2, "What came out of the kiln with a perfect crackle?",
      Seq("D2:5:3")),
    Question("single", 2, "What does Priya say is kinder to the knees?",
      Seq("D2:4:7")),
    Question("single", 3, "What did Ben promise to bring once the hives produce?",
      Seq("D3:1:8")),
    Question("single", 3, "What sold out on the bakery's opening day?",
      Seq("D3:2:5")),
    Question("single", 3, "What needs a new belt in Aiko's workshop?",
      Seq("D3:2:7")),
    Question("single", 3, "What did the 1890 refractor need?",
      Seq("D3:3:3")),
    Question("single", 3, "Which telescope is in the workshop window display?",
      Seq("D3:5:3")),
    Question("single", 3, "What project from the thirties is Aiko planning?",
      Seq("D3:3:7")),
    // round-8 singles over conversations 4 and 5
    Question("single", 4, "Which sheep farm does the studio buy wool from?",
      Seq("D4:1:5")),
    Question("single", 4, "What club is Felix the captain of?", Seq("D4:1:4")),
    Question("single", 4, "What did Felix's uncle retire from?", Seq("D4:1:6")),
    Question("single", 4, "Who teaches Felix's calligraphy course?", Seq("D4:2:2")),
    Question("single", 4, "What did Noor plant in cedar boxes?", Seq("D4:2:1")),
    Question("single", 4, "Which pier do Omar's lighthouse tours run from?",
      Seq("D4:2:4")),
    Question("single", 4, "What did Felix paddle through on the river expedition?",
      Seq("D4:3:2")),
    Question("single", 4, "What will Noor's tapestry show?", Seq("D4:3:5")),
    Question("single", 4, "What did Noor's studio host for beginners?", Seq("D4:3:7")),
    Question("single", 4, "What colour did the dye vat turn the first yarn?",
      Seq("D4:4:5")),
    Question("single", 4, "What sacrifice did the cup final come down to?",
      Seq("D4:4:6")),
    Question("single", 4, "Who wants prints of the storm series?", Seq("D4:4:9")),
    Question("single", 4, "Which venue asked Noor about a tapestry commission?",
      Seq("D4:2:9")),
    Question("single", 4, "What does Noor dye in small batches?", Seq("D4:1:7")),
    Question("single", 4, "What did Noor photograph at dawn on her road trip?",
      Seq("D4:2:5")),
    Question("single", 5, "Who is the detective in Oliver's novel?", Seq("D5:1:10")),
    Question("single", 5, "What vanished from the tower workshop in the clockmaker plot?",
      Seq("D5:2:8")),
    Question("single", 5, "What spices does Sana's uncle sell?", Seq("D5:2:7")),
    Question("single", 5, "Where did Sana photograph the night sky from?",
      Seq("D5:2:3")),
    Question("single", 5, "What replacement part does the roadster need from a collector?",
      Seq("D5:2:5")),
    Question("single", 5, "How many pages does Oliver's draft run?", Seq("D5:3:9")),
    Question("single", 5, "Where did Oliver write three chapters?", Seq("D5:2:4")),
    Question("single", 5, "What do the aurora photographs from the fjord glow?",
      Seq("D5:4:8")),
    Question("single", 5, "Which mountain tea does the tea room serve?",
      Seq("D5:4:10")),
    Question("single", 5, "Where is Oliver's publisher meeting set?", Seq("D5:4:9")),
    Question("single", 5, "How many swimmers filled the academy's first class?",
      Seq("D5:5:6")),
    Question("single", 5, "Who will Oliver's sequel follow?", Seq("D5:5:8")),
    Question("single", 5, "Where does Sana's third cat sleep?", Seq("D5:5:5")),
    Question("single", 5, "What does the longest chapter of the manual cover?",
      Seq("D5:4:7")),
    // ---- temporal (32): repeated-topic facts where the LATEST event is
    // the answer; "recently" carries engine-grade temporal intent
    Question("temporal", 1, "When did Elena most recently visit the glacier?",
      Seq("D1:4:1")),
    Question("temporal", 1, "What did the quartet do recently?", Seq("D1:4:2")),
    Question("temporal", 2, "When did Tomas most recently run a race?", Seq("D2:3:1")),
    Question("temporal", 2, "What did Priya fire in the kiln recently?",
      Seq("D2:5:1")),
    Question("temporal", 3, "When did Ben most recently harvest honey?", Seq("D3:4:1")),
    Question("temporal", 1, "What did Kiwi do recently?", Seq("D1:5:7")),
    Question("temporal", 1, "What did Marcus say about Portuguese recently?",
      Seq("D1:5:6")),
    Question("temporal", 1, "What did the quartet crowd ask for recently?",
      Seq("D1:4:4")),
    Question("temporal", 2, "What did Ingrid do recently?", Seq("D2:5:5")),
    Question("temporal", 2, "What race did Tomas plan recently?", Seq("D2:5:2")),
    Question("temporal", 2, "What did Priya install at the studio recently?",
      Seq("D2:3:2")),
    Question("temporal", 3, "What did Mirela's bakery add recently?",
      Seq("D3:3:5")),
    Question("temporal", 3, "What did Aiko finish restoring recently?",
      Seq("D3:5:1")),
    Question("temporal", 3, "What did Ben build recently for spring?",
      Seq("D3:5:2")),
    // round-8 temporal questions (same "recently"-carries-intent contract)
    Question("temporal", 4, "What did Noor harvest recently?", Seq("D4:4:1")),
    Question("temporal", 4, "What did Noor photograph recently?", Seq("D4:4:3")),
    Question("temporal", 4, "What did the chess club win recently?", Seq("D4:4:2")),
    Question("temporal", 4, "What did Noor deliver recently?", Seq("D4:5:1")),
    Question("temporal", 4, "What did Felix start planning recently?", Seq("D4:5:2")),
    Question("temporal", 4, "What did Felix exhibit recently?", Seq("D4:5:4")),
    Question("temporal", 4, "What happened to the storm prints recently?",
      Seq("D4:5:5")),
    Question("temporal", 5, "What did Sana photograph recently?", Seq("D5:4:2")),
    Question("temporal", 5, "What did Oliver complete recently?", Seq("D5:4:1")),
    Question("temporal", 5, "What did Oliver sign recently?", Seq("D5:5:2")),
    Question("temporal", 5, "Which rally did Sana ride recently?", Seq("D5:5:1")),
    Question("temporal", 5, "What did Oliver finish recently?", Seq("D5:3:1")),
    Question("temporal", 5, "What did Sana finish restoring recently?",
      Seq("D5:3:2")),
    Question("temporal", 5, "What did Rashid win recently?", Seq("D5:5:3")),
    Question("temporal", 1, "Where did Dario move recently?", Seq("D1:5:3")),
    Question("temporal", 2, "What did Priya preorder recently?", Seq("D2:4:3")),
    Question("temporal", 3, "What did Aiko move recently?", Seq("D3:4:9")),
    Question("temporal", 1, "What did Elena learn at the baking course recently?",
      Seq("D1:5:5")),
    // ---- multi-hop (32): 2+ evidence dialogs bridged by a named third
    // party; possessive speaker wording engages the secondary tag search
    Question("multihop", 1, "What job does Elena's brother have?",
      Seq("D1:1:5", "D1:2:4")),
    Question("multihop", 1, "Where does Elena's brother work?",
      Seq("D1:1:5", "D1:5:3")),
    Question("multihop", 2, "What did Priya's mentor publish?",
      Seq("D2:1:3", "D2:4:2")),
    Question("multihop", 2, "Where did Priya's mentor exhibit her porcelain?",
      Seq("D2:1:3", "D2:2:3")),
    Question("multihop", 3, "What did Aiko's cousin open?",
      Seq("D3:1:3", "D3:2:3")),
    Question("multihop", 1, "Where does Elena's brother keep talking about moving to?",
      Seq("D1:1:5", "D1:4:7")),
    Question("multihop", 1, "What did Elena's brother send photos from?",
      Seq("D1:1:5", "D1:3:5")),
    Question("multihop", 1, "Where did Marcus run into Elena's brother?",
      Seq("D1:1:5", "D1:2:4")),
    Question("multihop", 2, "What did Priya's mentor approve of on her visit?",
      Seq("D2:1:3", "D2:5:5")),
    Question("multihop", 3, "What did Aiko's cousin add to the bakery?",
      Seq("D3:1:3", "D3:3:5")),
    Question("multihop", 3, "What does Aiko's cousin want honey for?",
      Seq("D3:1:3", "D3:4:6")),
    Question("multihop", 3, "What classes did Aiko's cousin start at the bakery?",
      Seq("D3:1:3", "D3:5:5")),
    // round-8 multi-hop: Leila (Noor's sister), Omar (Felix's uncle),
    // Rashid (Sana's uncle), Vera (Oliver's coach) + two more bridges on
    // the original third parties
    Question("multihop", 4, "What does Noor's sister repair?",
      Seq("D4:1:3", "D4:2:3")),
    Question("multihop", 4, "Where did Noor's sister perform?",
      Seq("D4:1:3", "D4:3:3")),
    Question("multihop", 4, "What did Noor's sister open?",
      Seq("D4:1:3", "D4:5:3")),
    Question("multihop", 4, "How many apprentices is Noor's sister taking on?",
      Seq("D4:1:3", "D4:4:7")),
    Question("multihop", 4, "What tours does Felix's uncle run?",
      Seq("D4:1:6", "D4:2:4")),
    Question("multihop", 4, "What did Felix's uncle repair?",
      Seq("D4:1:6", "D4:3:4")),
    Question("multihop", 4, "What did Felix's uncle buy?",
      Seq("D4:1:6", "D4:4:4")),
    Question("multihop", 4, "What festival is Felix's uncle hosting?",
      Seq("D4:1:6", "D4:5:6")),
    Question("multihop", 5, "What shop does Sana's uncle run?",
      Seq("D5:1:3", "D5:2:2")),
    Question("multihop", 5, "What does Sana's uncle import?",
      Seq("D5:1:3", "D5:3:4")),
    Question("multihop", 5, "What did Sana's uncle add to the shop?",
      Seq("D5:1:3", "D5:4:4")),
    Question("multihop", 5, "What award did Sana's uncle win?",
      Seq("D5:1:3", "D5:5:3")),
    Question("multihop", 5, "Which team did Oliver's coach once swim for?",
      Seq("D5:1:4", "D5:2:1")),
    Question("multihop", 5, "What did Oliver's coach map?",
      Seq("D5:1:4", "D5:3:7")),
    Question("multihop", 5, "What did Oliver's coach publish?",
      Seq("D5:1:4", "D5:4:3")),
    Question("multihop", 5, "What did Oliver's coach open?",
      Seq("D5:1:4", "D5:5:4")),
    Question("multihop", 5, "What technique does Oliver's coach say needs work?",
      Seq("D5:1:4", "D5:2:6")),
    Question("multihop", 1, "What has Elena's brother always loved?",
      Seq("D1:1:5", "D1:2:5")),
    Question("multihop", 1, "What did Elena's brother name his boat?",
      Seq("D1:1:5", "D1:3:10")),
    Question("multihop", 3, "Where did Aiko's cousin move the bakery?",
      Seq("D3:1:3", "D3:5:10")),
    // ---- knowledge-update (32; the LongMemEval category the reference's
    // second conversational benchmark adds, `tests/benchmarks/longmemeval/
    // test_longmemeval.py`): a later session supersedes an earlier fact;
    // the harness answers them with stateMode="current", so the J4
    // supersession walk must surface the NEW dialog and suppress the old
    Question("update", 1, "What job does Elena do for a living?",
      Seq("D1:4:9")),
    Question("update", 2, "Which city does Tomas live in?", Seq("D2:4:9")),
    Question("update", 3, "Which street is Aiko's workshop on?",
      Seq("D3:4:9")),
    Question("update", 1, "Which night does the quartet rehearse?",
      Seq("D1:5:9")),
    Question("update", 1, "Where does Dario work these days?",
      Seq("D1:5:3")),
    Question("update", 2, "How many kilometers a week does Tomas train?",
      Seq("D2:5:9")),
    Question("update", 2, "How often do the studio evening classes run?",
      Seq("D2:5:10")),
    Question("update", 2, "What kiln does Priya's studio use?",
      Seq("D2:3:2")),
    Question("update", 3, "How many beehives does Ben keep?",
      Seq("D3:5:9")),
    Question("update", 3, "Where is Mirela's bakery located?",
      Seq("D3:5:10")),
    // round-8 update questions (one per new supersession pair)
    Question("update", 4, "Which city does Felix live in?", Seq("D4:4:10")),
    Question("update", 4, "Which evening does the chess club meet?",
      Seq("D4:5:9")),
    Question("update", 4, "Where is Noor's weaving studio located?",
      Seq("D4:4:11")),
    Question("update", 4, "Where does Leila work these days?", Seq("D4:5:3")),
    Question("update", 4, "What loom does Noor's studio use?", Seq("D4:5:10")),
    Question("update", 4, "Which kayak did Felix buy?", Seq("D4:5:8")),
    Question("update", 4, "How many mornings a week does Felix train?",
      Seq("D4:5:11")),
    Question("update", 5, "How often does Oliver train?", Seq("D5:3:3")),
    Question("update", 5, "How many cats does Sana keep?", Seq("D5:5:5")),
    Question("update", 5, "Where do Oliver's orchids grow?", Seq("D5:3:5")),
    Question("update", 5, "What job does Sana do for a living?", Seq("D5:4:6")),
    Question("update", 5, "Where does Oliver swim for training?", Seq("D5:4:5")),
    Question("update", 5, "Where is Rashid's spice shop located?", Seq("D5:5:7")),
    Question("update", 1, "How does Elena commute?", Seq("D1:5:10")),
    Question("update", 1, "Which morning are Marcus's Portuguese lessons?",
      Seq("D1:5:11")),
    Question("update", 1, "Where does Kiwi's cage sit?", Seq("D1:5:12")),
    Question("update", 2, "Which hour does the studio open?", Seq("D2:5:11")),
    Question("update", 2, "What shoes does Tomas run in?", Seq("D2:5:12")),
    Question("update", 2, "Where does Priya mix her glazes?", Seq("D2:5:13")),
    Question("update", 3, "Where does Ben sell his honey?", Seq("D3:5:11")),
    Question("update", 3, "Where does Aiko buy brass fittings?", Seq("D3:5:12")),
    Question("update", 3, "What do the hives winter under?", Seq("D3:5:13")),
    // ---- open-domain (12; LoCoMo category 3 — the question paraphrases
    // or reasons ABOUT the planted fact instead of quoting its words, so
    // retrieval leans on the vector/entity channels with only one or two
    // shared content words; wording must avoid every temporal keyword)
    Question("open", 1, "Which feathered pet mimics household sounds?",
      Seq("D1:2:8")),
    Question("open", 1, "Who can finally order coffee abroad without pausing?",
      Seq("D1:5:6")),
    Question("open", 1, "What mode of transport carries two riders by the river?",
      Seq("D1:3:1")),
    Question("open", 2, "Which craft equipment needs a full day of heating?",
      Seq("D2:1:5")),
    Question("open", 2, "What footrace left someone struggling with stairs?",
      Seq("D2:3:5")),
    Question("open", 3, "Which trade pairs naturally with an apiary?",
      Seq("D3:4:7")),
    Question("open", 3, "Which antique optical instrument got a completely new mount?",
      Seq("D3:3:3")),
    Question("open", 4, "Which board-game final hinged on giving up the queen?",
      Seq("D4:4:6")),
    Question("open", 4, "What woven artwork reached the opera stage?",
      Seq("D4:5:1")),
    Question("open", 5, "Which vintage vehicle entered a hill event?",
      Seq("D5:5:1")),
    Question("open", 5, "What plants gained a balcony greenhouse?",
      Seq("D5:3:5")),
    Question("open", 5, "Which swimmer says open water beats any pool lane?",
      Seq("D5:5:10")),
    // ---- adversarial (12; LoCoMo category 5 — the fact is NOT in the
    // conversation, so the correct behavior is ABSTENTION: every retrieved
    // row scores below the answerable floor under the relevance gate.
    // Each question borrows ANOTHER conversation's topic, which the
    // conversation-tag scope excludes; speaker names are deliberately
    // absent — with the lexical-bag embedder a speaker name alone lifts
    // top-1 ~0.05-0.08 (every turn embeds "Speaker:"), which is exactly
    // the calibration mass a no-answer policy must not hand out for free
    Question("adversarial", 1, "What glaze came out of the kiln?", Nil),
    Question("adversarial", 1, "Which rooftop beehive produced honey?", Nil),
    Question("adversarial", 2, "What parrot was adopted from the shelter?",
      Nil),
    Question("adversarial", 2, "Which brass telescope got restored?", Nil),
    Question("adversarial", 3, "What marathon was finished in Valencia?", Nil),
    Question("adversarial", 3, "Which tapestry hangs at the opera house?",
      Nil),
    Question("adversarial", 4, "What spices sell at the bazaar hall?", Nil),
    Question("adversarial", 4, "Which glacier ice caves got hiked?", Nil),
    Question("adversarial", 5, "What indigo dye boxes got planted?", Nil),
    Question("adversarial", 5, "Which cinnamon knots sold out at a bakery?",
      Nil),
    Question("adversarial", 3, "What Portuguese verbs does the tutor teach?",
      Nil),
    Question("adversarial", 4, "Which celadon vases survived the firing?", Nil))

  /** Superseded facts, old dialog -> new dialog (`EVOLVED_INTO` is the
    * supersession relation the current-state walk follows, Schema
    * .SupersessionRelations). In the reference these edges come from the
    * enrichment/consolidation pass; the fixture declares them directly.
    */
  val Supersessions: Seq[(String, String)] = Seq(
    "D1:1:9" -> "D1:4:9", // Elena: map bureau -> mountain-trail guide
    "D2:1:9" -> "D2:4:9", // Tomas: Porto flat -> Valencia flat
    "D3:1:9" -> "D3:4:9", // Aiko: Castle Lane workshop -> Mill Street
    "D1:1:8" -> "D1:5:9", // quartet: Thursday rehearsals -> Monday nights
    "D1:2:4" -> "D1:5:3", // Dario: aquarium lab -> Skagen research station
    "D2:1:8" -> "D2:5:9", // Tomas: 40 km/week plan -> 60 km/week
    "D2:4:1" -> "D2:5:10", // classes: twice a week -> three times a week
    "D2:1:5" -> "D2:3:2", // studio kiln: slow old kiln -> new gas kiln
    "D3:1:2" -> "D3:5:9", // Ben: three hives -> five hives
    "D3:2:3" -> "D3:5:10", // Mirela's bakery: Harbor Street -> old mill
    // round-8 pairs
    "D4:1:8" -> "D4:4:10", // Felix: Oslo flat -> Bergen hillside flat
    "D4:1:9" -> "D4:5:9", // chess club: Wednesday -> Friday evenings
    "D4:1:10" -> "D4:4:11", // Noor's studio: Birch Avenue -> Garden Square
    "D4:2:3" -> "D4:5:3", // Leila: music school workshop -> own atelier
    "D4:1:1" -> "D4:5:10", // loom: cedar -> jacquard
    "D4:1:2" -> "D4:5:8", // kayak: red bay kayak -> yellow sea kayak
    "D4:2:10" -> "D4:5:11", // training: two mornings -> four mornings
    "D5:1:6" -> "D5:3:3", // Oliver: twice a week -> daily training
    "D5:1:7" -> "D5:5:5", // Sana: two cats -> third cat adopted
    "D5:1:8" -> "D5:3:5", // orchids: windowsill -> balcony greenhouse
    "D5:1:9" -> "D5:4:6", // Sana: radiology clinic -> teaching institute
    "D5:1:4" -> "D5:4:5", // swim venue: municipal pool -> cold lake
    "D5:2:2" -> "D5:5:7", // spice shop: Saffron Alley -> grand bazaar hall
    "D1:1:10" -> "D1:5:10", // Elena commute: tram line five -> early bus
    "D1:2:9" -> "D1:5:11", // Portuguese lessons: Tuesday -> Saturday
    "D1:3:9" -> "D1:5:12", // Kiwi's cage: kitchen window -> sunroom
    "D2:1:10" -> "D2:5:11", // studio hours: opens at nine -> opens at eight
    "D2:2:9" -> "D2:5:12", // Tomas's shoes: blue road -> white trail
    "D2:3:9" -> "D2:5:13", // glaze mixing: back room -> new annex
    "D3:1:10" -> "D3:5:11", // honey sales: market stall -> bakery counter
    "D3:2:9" -> "D3:5:12", // brass fittings: dockside -> upriver foundry
    "D3:3:9" -> "D3:5:13") // hive cover: canvas -> insulated cedar shelter

  def edges(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Supersessions.map { case (old, nu) =>
      val turn = turns.find(_.dialogId == nu).get
      val ts = new Timestamp(
        SessionStart((turn.conv, turn.session)).getTime + turn.idx * 60000L)
      graft.domain.Edge(old, nu, "EVOLVED_INTO", Some(1.0), None, None, None,
        None, None, None, ts)
    }.toDF()
  }

  /** Ingest the conversations through the real batch-store transform
    * ([[Ingest.prepare]]), one memory per utterance with the reference's tag
    * and metadata shape (`test_locomo.py:351-387`): content "Speaker: text",
    * tags locomo-test / conversation:<id> / session:<n> / speaker:<name>
    * (+ enrichment-style entity:people:<slug> tags for named third
    * parties), dialog-id + session-datetime metadata, importance 0.5.
    */
  def memories(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rows = turns.map { u =>
      val start = SessionStart((u.conv, u.session))
      val ts = new Timestamp(start.getTime + u.idx * 60000L)
      val tags = Seq("locomo-test", s"conversation:conv-${u.conv}",
        s"session:${u.session}", s"speaker:${u.speaker.toLowerCase}") ++
        u.entities.map(e => s"entity:people:$e")
      val sessionIso = start.toLocalDateTime.toString + "Z"
      val metadata =
        s"""{"source": "locomo_benchmark", "conversation_id": "conv-${u.conv}",
           | "session_id": "${u.session}", "dialog_id": "${u.dialogId}",
           | "speaker": "${u.speaker}", "session_datetime": "$sessionIso"}"""
          .stripMargin.replaceAll("\n", "")
      (u.dialogId, s"${u.speaker}: ${u.text}", tags, metadata, ts, 0.5, "Context")
    }
    // the quality benchmark embeds with the LEXICAL provider (subword bag,
    // [[graft.domain.LexicalEmbedding]]) — the reference runs ITS LoCoMo
    // benchmark on real embeddings, and the content-hash placeholder's pure
    // vector noise decided rankings inside equal-keyword pools (r8: the 50-
    // turn conv4/conv5 metrics were noise-bound, abstention inseparable)
    Ingest.prepare(rows.toDF(
      "id", "content", "tags", "metadata", "timestamp", "importance", "type"),
      embed = Some(graft.domain.LexicalEmbedding.embedColumn()))
  }

  /** Temporal-question detection, ported from `test_locomo.py:618-638`. */
  private val TemporalKeywords = Seq("when", "what time", "what date",
    "which year", "which month", "how long ago", "before", "after", "during",
    "since", "until", "first time", "last time", "recently", "previously",
    "last")

  def isTemporalQuestion(q: String): Boolean = {
    val lower = q.toLowerCase
    TemporalKeywords.exists(lower.contains)
  }

  /** Month/year hints appended to temporal queries
    * (`test_locomo.py:640-668`; the year pattern is the reference's
    * 2020-2025 window, kept verbatim).
    */
  def temporalHints(q: String): Seq[String] = {
    val lower = q.toLowerCase
    val months = Seq("january", "february", "march", "april", "may", "june",
      "july", "august", "september", "october", "november", "december")
      .filter(lower.contains)
    val years = "\\b(202[0-5])\\b".r.findAllIn(q).toSeq
    months ++ years
  }

  /** Speaker-name extraction from a question
    * (`test_locomo.py:523-596`): first capitalized mid-sentence
    * non-stopword word, with a possessive ("Elena's") fallback.
    */
  def speakerFromQuestion(q: String): Option[String] = {
    val stop = Recall.EntityStopwords
    val words = q.split("\\s+").filter(_.nonEmpty)
    val direct = words.zipWithIndex.collectFirst {
      case (w, i) if {
        val clean = w.replaceAll("[^\\w]", "")
        clean.length > 1 && !stop.contains(clean) &&
          !w.contains("'s") && !w.contains("\u2019s") &&
          clean.head.isUpper && clean.tail.forall(_.isLower) && i != 0
      } => w.replaceAll("[^\\w]", "")
    }
    direct.orElse(
      "\\b([A-Z][a-z]+)['\u2019]s\\b".r.findFirstMatchIn(q).map(_.group(1))
        .filterNot(stop.contains))
  }

  /** Answer one question through the full recall path with the reference
    * evaluator's parameterization (`test_locomo.py:730-820`): conversation
    * tag scope, category-dependent limit (multi-hop 100 / temporal 75 /
    * single 50), temporal hints appended, auto-decompose + entity expansion
    * for multi-hop, `recencyBias = "auto"` throughout (only temporal-intent
    * queries trigger it), plus the multi-hop speaker-tag secondary search
    * union. Returns the ranked dialog ids.
    */
  def answer(memories: DataFrame, edges: DataFrame, q: Question,
      weights: graft.domain.Scoring.Weights = graft.domain.Scoring.Weights())
      : Seq[String] = answerScored(memories, edges, q, weights).map(_._1)

  /** [[answer]] with each ranked id's final score — the abstention input:
    * an adversarial question is answered correctly when its TOP score
    * stays under [[AbstainFloor]] (the secondary speaker-tag rows carry
    * score 0 — they are a recall-supplement, never abstention evidence).
    */
  def answerScored(memories: DataFrame, edges: DataFrame, q: Question,
      weights: graft.domain.Scoring.Weights = graft.domain.Scoring.Weights())
      : Seq[(String, Double)] = {
    val temporal = isTemporalQuestion(q.question)
    val multiHop = q.evidence.size > 1
    val query = (q.question +: (if (temporal) temporalHints(q.question) else Nil))
      .mkString(" ")
    val limit = if (multiHop) 100 else if (temporal) 75 else 50
    val req = RecallRequest(query = Some(query), limit = limit,
      tags = Seq(s"conversation:conv-${q.conv}"), tagMatch = "exact",
      autoDecompose = multiHop, expandEntities = multiHop,
      entityBridge = multiHop,
      recencyBias = "auto",
      stateMode = if (q.category == "update") "current" else "all",
      weights = weights,
      queryEmbedder = Some(graft.domain.LexicalEmbedding.embed(_)),
      now = Now)
    var ids = Recall.recall(memories, edges, req)
      .select("id", "final_score").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    if (multiHop) speakerFromQuestion(q.question).foreach { sp =>
      val bySpeaker = Recall.recall(memories, edges, RecallRequest(
        query = None, limit = 50,
        tags = Seq(s"speaker:${sp.toLowerCase}", s"conversation:conv-${q.conv}"),
        tagMode = "all", tagMatch = "exact", now = Now))
        .select("id").collect().map(_.getString(0))
      ids = ids ++ bySpeaker.filterNot(s => ids.exists(_._1 == s))
        .map((_, 0.0))
    }
    ids
  }

  /** Ranked ids per question index — the spec's golden input. Questions run
    * SEQUENTIALLY: a concurrent variant was measured barely faster (the
    * per-question cost is driver planning, which serializes on analyzer
    * locks) and produced one unreproduced golden flake — determinism of
    * the pinned goldens outranks the wall-clock. Instead the session is
    * tuned for the 129-row corpus while the questions run: AQE off (its
    * per-stage re-planning only pays off on real shuffles) and few shuffle
    * partitions — ~2x per question (r9 recall profile).
    */
  def rankings(spark: SparkSession): Map[Int, Seq[String]] =
    scoredRankings(spark).view.mapValues(_.map(_._1)).toMap

  /** Ranked (id, score) per question index — one pass serving both the
    * id goldens and the adversarial abstention contract.
    */
  def scoredRankings(spark: SparkSession): Map[Int, Seq[(String, Double)]] = {
    val mem = memories(spark).cache()
    mem.count()
    try {
      val es = edges(spark)
      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
      val prevParts = spark.conf.get("spark.sql.shuffle.partitions", "32")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.shuffle.partitions", "4")
      try {
        questions.zipWithIndex.map { case (q, i) =>
          i -> answerScored(mem, es, q)
        }.toMap
      } finally {
        spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
        spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      }
    } finally mem.unpersist()
  }
}
