SELECT doc_id, ord, tok
FROM (SELECT doc_id, split(text, ' ') AS toks FROM documents WHERE doc_id < 20)
CROSS JOIN UNNEST(toks) WITH ORDINALITY AS t(tok, ord)
