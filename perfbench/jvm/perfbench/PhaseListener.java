package perfbench;

import java.util.concurrent.ConcurrentLinkedQueue;

import org.apache.spark.sql.catalyst.QueryPlanningTracker;
import org.apache.spark.sql.catalyst.QueryPlanningTracker.PhaseSummary;
import org.apache.spark.sql.execution.QueryExecution;
import org.apache.spark.sql.util.QueryExecutionListener;

import scala.Tuple2;

/**
 * Records the Catalyst phases (parsing, analysis, optimization, planning) of
 * every query execution a session runs, with their wall-clock start and end,
 * so that a traced benchmark run can attribute them to the operation whose
 * span contains them. Loaded through spark.sql.queryExecutionListeners; the
 * harness reads the records with drain().
 */
public class PhaseListener implements QueryExecutionListener {
  private static final ConcurrentLinkedQueue<String> RECORDS = new ConcurrentLinkedQueue<>();

  @Override
  public void onSuccess(String funcName, QueryExecution qe, long durationNs) {
    record(qe);
  }

  @Override
  public void onFailure(String funcName, QueryExecution qe, Exception exception) {
    record(qe);
  }

  private static void record(QueryExecution qe) {
    QueryPlanningTracker tracker = qe.tracker();
    scala.collection.Iterator<Tuple2<String, PhaseSummary>> it = tracker.phases().iterator();
    while (it.hasNext()) {
      Tuple2<String, PhaseSummary> p = it.next();
      RECORDS.add(p._1() + "," + p._2().startTimeMs() + "," + p._2().endTimeMs());
    }
  }

  /** Every record since the last call, one "phase,startMs,endMs" a line. */
  public static String drain() {
    StringBuilder sb = new StringBuilder();
    String r;
    while ((r = RECORDS.poll()) != null) {
      sb.append(r).append('\n');
    }
    return sb.toString();
  }
}
