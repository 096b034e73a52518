package lotad_spark.jvm;

import java.util.ArrayList;
import java.util.HashMap;
import java.util.Iterator;
import java.util.List;
import java.util.Map;
import java.util.TreeSet;

import org.apache.spark.api.java.function.MapPartitionsFunction;
import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.Encoders;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;

/**
 * Per-partition cap of a melted (column_name, value) relation: within each
 * partition, the first {@code limit} distinct values of every column, as a
 * narrow JVM stage (no shuffle, no Python worker).
 *
 * <p>Values order by code point, which is the UTF-8 byte order Spark's
 * orderBy gives strings, so the global first {@code limit} of a column is
 * always among the union of the partitions' first {@code limit}. Java's
 * String.compareTo orders UTF-16 units instead and would put astral
 * characters before U+E000..U+FFFF. State is at most {@code limit} values
 * per column.
 */
public final class TopValues {
  /** The capped relation; {@code melted} has string columns column_name and value, values not null. */
  public Dataset<Row> cap(Dataset<Row> melted, int limit) {
    return melted.mapPartitions(new Cap(limit), Encoders.row(melted.schema()));
  }

  private static final class Cap implements MapPartitionsFunction<Row, Row> {
    private static final long serialVersionUID = 1L;
    private final int limit;

    Cap(int limit) {
      this.limit = limit;
    }

    @Override
    public Iterator<Row> call(Iterator<Row> rows) {
      Map<String, TreeSet<String>> firsts = new HashMap<>();
      while (rows.hasNext()) {
        Row row = rows.next();
        String value = row.getString(1);
        TreeSet<String> kept = firsts.computeIfAbsent(
            row.getString(0), c -> new TreeSet<>(CanonicalHash.CODE_POINT_ORDER));
        if (kept.size() < limit) {
          kept.add(value);
        } else if (limit > 0
            && CanonicalHash.CODE_POINT_ORDER.compare(value, kept.last()) < 0
            && kept.add(value)) {
          kept.pollLast();
        }
      }
      List<Row> out = new ArrayList<>();
      firsts.forEach((column, kept) -> kept.forEach(v -> out.add(RowFactory.create(column, v))));
      return out.iterator();
    }
  }
}
