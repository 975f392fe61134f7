from erkg_tutorials_spark.sources.senzing import (
    read_senzing_report,
    entity_features,
    alias_records,
    graph_tables,
    related_pairs,
)
from erkg_tutorials_spark.sources.tabular import (
    load_countries,
    load_text_lines,
    read_jsonl,
    write_jsonl,
)
