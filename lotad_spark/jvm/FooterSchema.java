package lotad_spark.jvm;

import java.io.FileNotFoundException;
import java.io.IOException;
import java.util.ArrayList;
import java.util.Comparator;
import java.util.List;

import com.fasterxml.jackson.core.JsonProcessingException;
import com.fasterxml.jackson.databind.ObjectMapper;
import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.parquet.format.converter.ParquetMetadataConverter;
import org.apache.parquet.hadoop.Footer;
import org.apache.parquet.hadoop.ParquetFileWriter;
import org.apache.parquet.hadoop.util.HadoopInputFile;
import org.apache.parquet.schema.LogicalTypeAnnotation;
import org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation;
import org.apache.parquet.schema.Type;
import org.apache.spark.sql.classic.SparkSession;
import org.apache.spark.sql.errors.QueryCompilationErrors;
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat;
import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader;
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter;
import org.apache.spark.sql.internal.SQLConf;
import org.apache.spark.util.HadoopFSUtils;

/**
 * The data schema that Spark's parquet schema inference gives a table path,
 * read on the driver from one footer, so that opening a table starts no
 * Spark job.
 *
 * <p>Without schema merging, inference (ParquetUtils.inferSchema) reads one
 * file of the leaves the file index lists: the first "_common_metadata" by
 * path, else the first "_metadata", else the first data file. The listing
 * skips, at every level, the names HadoopFSUtils.shouldFilterOutPathName
 * skips (_SUCCESS, hidden files, _temporary) and descends into the rest,
 * k=v partition directories included. The chosen footer goes through
 * ParquetFileFormat.readSchemaFromFooter with a converter built on the
 * session conf, as in the inference job.
 *
 * <p>The same footer names the top-level TIMESTAMP(NANOS) columns, which the
 * converter reads as BIGINT under spark.sql.legacy.parquet.nanosAsLong.
 *
 * <p>Python makes the empty instance through hashing.jvm_helper and calls
 * {@link #read}, which returns the result as a new instance.
 */
public final class FooterSchema {
  private final String json;
  private final List<String> nanosColumns;

  public FooterSchema() {
    this(null, List.of());
  }

  private FooterSchema(String json, List<String> nanosColumns) {
    this.json = json;
    this.nanosColumns = nanosColumns;
  }

  /** The data schema as JSON; null when the session merges schemas, which needs every footer. */
  public String json() {
    return json;
  }

  /**
   * The TIMESTAMP(NANOS) column names as a JSON array: one py4j call, where
   * iterating a List costs a call per element and an exception at its end.
   */
  public String nanosColumns() throws JsonProcessingException {
    return new ObjectMapper().writeValueAsString(nanosColumns);
  }

  /**
   * Reads the schema of the parquet table at {@code path}. A path that does
   * not exist raises FileNotFoundException; one with no data file raises
   * the AnalysisException (UNABLE_TO_INFER_SCHEMA) inference raises.
   */
  public FooterSchema read(SparkSession spark, String path) throws Exception {
    Configuration hadoop = spark.sessionState().newHadoopConf();
    Path root = new Path(path);
    FileSystem fs = root.getFileSystem(hadoop);
    FileStatus[] roots = fs.globStatus(root);
    if (roots == null || roots.length == 0) {
      throw new FileNotFoundException(path);
    }
    List<FileStatus> leaves = new ArrayList<>();
    for (FileStatus status : roots) {
      listLeaves(fs, status, leaves);
    }
    FileStatus chosen = inferenceFile(leaves);
    if (chosen == null) {
      throw (Exception) QueryCompilationErrors.dataSchemaNotSpecifiedError("Parquet");
    }
    Footer footer = new Footer(chosen.getPath(), ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(chosen, hadoop), ParquetMetadataConverter.SKIP_ROW_GROUPS));
    List<String> nanos = new ArrayList<>();
    for (Type field : footer.getParquetMetadata().getFileMetaData().getSchema().getFields()) {
      if (field.isPrimitive()
          && field.getLogicalTypeAnnotation() instanceof TimestampLogicalTypeAnnotation ts
          && ts.getUnit() == LogicalTypeAnnotation.TimeUnit.NANOS) {
        nanos.add(field.getName());
      }
    }
    SQLConf conf = spark.sessionState().conf();
    if (!nanos.isEmpty()) {
      // Also set by get_spark; asserted here for sessions built elsewhere.
      conf.setConfString(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG().key(), "true");
    }
    if (conf.isParquetSchemaMergingEnabled()) {
      return new FooterSchema(null, nanos);
    }
    String json = ParquetFileFormat.readSchemaFromFooter(
        footer, new ParquetToSparkSchemaConverter(conf)).json();
    return new FooterSchema(json, nanos);
  }

  private static void listLeaves(FileSystem fs, FileStatus status, List<FileStatus> leaves)
      throws IOException {
    if (!status.isDirectory()) {
      leaves.add(status);
      return;
    }
    for (FileStatus child : fs.listStatus(status.getPath())) {
      if (!HadoopFSUtils.shouldFilterOutPathName(child.getPath().getName())) {
        listLeaves(fs, child, leaves);
      }
    }
  }

  private static FileStatus inferenceFile(List<FileStatus> leaves) {
    leaves.sort(Comparator.comparing(s -> s.getPath().toString()));
    for (String summary : List.of(
        ParquetFileWriter.PARQUET_COMMON_METADATA_FILE, ParquetFileWriter.PARQUET_METADATA_FILE)) {
      for (FileStatus leaf : leaves) {
        if (leaf.getPath().getName().equals(summary)) {
          return leaf;
        }
      }
    }
    for (FileStatus leaf : leaves) {
      String name = leaf.getPath().getName();
      if (!name.equals(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
          && !name.equals(ParquetFileWriter.PARQUET_METADATA_FILE)) {
        return leaf;
      }
    }
    return null;
  }
}
