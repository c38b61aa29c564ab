package graft.flights

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Runnable analogue of the reference's main
  * (StatefulStreamingWithMultipleStates.scala:64-134): replay a
  * FlightSim-shaped feed batch by batch through the stateful track
  * pipeline and print the per-batch snapshot SQL view — the reference's
  * console experience, on Structured Streaming. Two independent stateful
  * queries run off one source (its crash scenario, K7).
  *
  *   sbt "runMain graft.flights.FlightReplayDemo"
  */
object FlightReplayDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.create()
    import spark.implicits._

    val input = MemoryStream[String](spark)
    val flights = Flights.flightStream(input.toDF())
    // two independent stateful views off one parsed source (K7):
    val qAll = Flights.showTempView(Flights.trackSnapshots(flights), "Flights",
      "select flightId, count(*) as count from Flights group by flightId order by flightId")
    val qNoGeom = Flights.showTempView(
      Flights.trackSnapshots(flights.filter(_.altitude >= 30300)), "HighFlights",
      "select flightId, max(altitude) as altitude from HighFlights group by flightId order by flightId")

    (0 until 3).foreach { sec =>
      input.addData(FlightFixtures.batch(sec))
      qAll.processAllAvailable(); qNoGeom.processAllAvailable()
    }
    qAll.stop(); qNoGeom.stop(); spark.stop()
  }
}
