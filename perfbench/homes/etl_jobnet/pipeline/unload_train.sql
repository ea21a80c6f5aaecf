SELECT doc_id, text, lang, source, n_tokens
FROM $pipe_schema.documents_split
WHERE split = 'train';
