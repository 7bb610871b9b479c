"""Expected result digests, computed by DuckDB over the generated parquet.

A digest is (row count, sum over rows of the first 60 bits of md5 of the
row's columns, sorted by name and joined by '|'), the same two numbers the
JVM harness observes on the program's output. Registry queries reuse their
own ``EngineQuery.oracle`` SQL; the k-mer relations and the per-document
shard assignment use the benchmark's SQL below.
"""
import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("genomes", "documents", "lineitem")
CHUNK = 256


def genome_chunks(data_dir, k):
    """genomes.text cut into CHUNK-window pieces overlapping by k-1.

    DuckDB's substr walks a string from its start, so windowing a
    megabase row directly is quadratic; every window of a row lies in
    exactly one piece, so the windows (and their counts) are unchanged.
    """
    texts = pq.read_table(f"{data_dir}/genomes.parquet", columns=["text"]).column(0).to_pylist()
    return pa.table({"s": pa.array(
        [t[i:i + CHUNK + k - 1] for t in texts for i in range(0, len(t) - k + 1, CHUNK)],
        type=pa.string())})


def kmer_sql(k):
    """Thresholded k-mer counts (count > 1) over the genome pieces."""
    return f"""
      SELECT word, count(*) AS cnt FROM (
        SELECT substr(s, CAST(unnest(generate_series(1, length(s) - {k - 1})) AS INT), {k}) AS word
        FROM chunks_k{k})
      WHERE word <> '' GROUP BY word HAVING count(*) > 1"""


def shard_assignment_sql(export_oracle):
    """Per-document (doc_id, lang, bin, shard) for 8 shards.

    Keeps every CTE of the registry's ``export_training_shards`` oracle
    (curated keep-set, packing ``p``, md5-ranked sequence shards ``sh``)
    and replaces only its final per-shard rollup with the per-document join.
    """
    cut = export_oracle.rfind("\nSELECT ")
    if cut < 0 or "\nsh AS (" not in export_oracle or "\np AS (" not in export_oracle:
        raise ValueError("export_training_shards oracle lost its p/sh CTEs")
    return export_oracle[:cut] + """
      SELECT p.doc_id, p.lang, p.bin, sh.shard FROM p JOIN sh USING (lang, bin)"""


def workload_sql(workload, oracles):
    """{output label: SQL} for each output the workload's pass sinks."""
    if workload == "kmer_k8":
        return {"Kmers.thresholded": kmer_sql(8)}
    if workload == "kmer_k31":
        return {"Kmers.thresholded": kmer_sql(31)}
    if workload == "curation_zipf":
        return {
            "Curation.trainingShardAssignment":
                shard_assignment_sql(oracles["export_training_shards"]),
            "Bpe.tokenizeStatsFromSaved": oracles["bpe_tokenize_from_saved"],
            "Unigram.tokenizeStatsFromSaved": oracles["unigram_tokenize_from_saved"],
        }
    if workload == "driver_loops":
        modules = {"neardup_components": "dedup", "maxcover_select_lazy": "curation",
                   "perceptron_learn_rounds": "text", "graph_pagerank_parts": "operators",
                   "graph_kcore_nodes": "operators"}
        return {f"{m}.{q}": oracles[q] for q, m in modules.items()}
    raise ValueError(f"unknown workload {workload}")


def canon(name, typ):
    q = f'"{name}"'
    if typ in ("DOUBLE", "FLOAT"):
        return f"format('{{:.6f}}', {q})"
    if typ.endswith("[]") or typ.startswith(("STRUCT", "MAP")):
        return f"CAST(to_json({q}) AS VARCHAR)"
    return f"CAST({q} AS VARCHAR)"


def digest(con, sql):
    rel = con.sql(sql)
    cols = sorted(zip(rel.columns, (str(t) for t in rel.types)))
    row = ", ".join(canon(n, t) for n, t in cols)
    rows, h = con.execute(f"""
      SELECT count(*), CAST(coalesce(sum(CAST(('0x' || substr(md5(concat_ws('|', {row})), 1, 15)) AS BIGINT)), 0) AS VARCHAR)
      FROM ({sql}) t""").fetchone()
    return [int(rows), str(h)]


def expected(data_dir, workload, oracles, tmp_dir, threads=4):
    """{output label: [rows, hash]} for ``workload`` over ``data_dir``."""
    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    for t in TABLES:
        path = f"{data_dir}/{t}.parquet"
        try:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        except duckdb.IOException:
            pass  # the family has no such table
    if workload.startswith("kmer_k"):
        k = int(workload[len("kmer_k"):])
        con.register(f"chunks_k{k}", genome_chunks(data_dir, k))
    return {label: digest(con, sql) for label, sql in workload_sql(workload, oracles).items()}
