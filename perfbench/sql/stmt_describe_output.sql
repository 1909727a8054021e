-- check: none
PREPARE q_do FROM SELECT o_orderpriority, count(*) AS n, sum(o_totalprice) AS total FROM orders WHERE o_totalprice > ? GROUP BY o_orderpriority
;
DESCRIBE OUTPUT q_do
;
-- check: none
DEALLOCATE PREPARE q_do
