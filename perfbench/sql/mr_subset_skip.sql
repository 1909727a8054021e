SELECT user_id, match_num, n_mid
FROM events MATCH_RECOGNIZE (
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES MATCH_NUMBER() AS match_num, count(U.*) AS n_mid
  ONE ROW PER MATCH
  AFTER MATCH SKIP TO LAST U
  PATTERN (V (C|E)+ P)
  SUBSET U = (C, E)
  DEFINE V AS event_type = 'view',
         C AS event_type = 'click',
         E AS event_type = 'error',
         P AS event_type = 'purchase'
)
