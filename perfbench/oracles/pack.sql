WITH toks AS (SELECT doc_id, cast(len(list_filter(string_split_regex(lower(text), '\s+'), t -> len(t) > 0)) AS bigint) AS n_tokens FROM documents),
sh AS (SELECT doc_id, n_tokens, doc_id % 8 AS shard FROM toks),
c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
    ROWS UNBOUNDED PRECEDING) AS cum FROM sh),
b AS (SELECT shard, doc_id, n_tokens,
    cast(cum - n_tokens AS bigint) AS chunk_offset,
    cast((cum - n_tokens) // 512 AS bigint) AS chunk_seq FROM c)
SELECT shard, chunk_seq, cast(count(*) AS bigint) AS n_docs,
  cast(sum(n_tokens) AS bigint) AS total_tokens,
  min(chunk_offset) AS chunk_start_offset
FROM b GROUP BY 1, 2
