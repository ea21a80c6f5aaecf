-- read the corpus straight off the lake path (works for both layouts:
-- a single file or a directory of parts)
SELECT doc_id, text, lang, source, n_chars
FROM parquet.`$sf_dir/documents.parquet`;
