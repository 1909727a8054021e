SELECT user_id, match_num, start_event, n_clicks
FROM events MATCH_RECOGNIZE (
  PARTITION BY user_id
  ORDER BY ts, event_id
  MEASURES MATCH_NUMBER() AS match_num,
           FIRST(event_id) AS start_event,
           count(C.*) AS n_clicks
  ONE ROW PER MATCH
  AFTER MATCH SKIP TO NEXT ROW
  PATTERN (C{2,3} P)
  DEFINE C AS event_type = 'click',
         P AS event_type = 'purchase'
)
