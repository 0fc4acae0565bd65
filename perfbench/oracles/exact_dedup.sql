SELECT md5(text) AS text_hash, min(doc_id) AS keep_id,
cast(count(*) AS bigint) AS dup_count FROM documents GROUP BY 1
